package graft.sinks

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal Kafka wire-protocol codec — enough of the PUBLIC protocol
  * (kafka.apache.org/protocol) for an ack-awaiting producer, written
  * against the spec the way [[graft.sources.PgWireProtocol]] is written
  * against the Postgres frontend/backend spec (the environment has no
  * Kafka client jar, and the reference's publisher is exactly this
  * shape: serialize → produce → await ack —
  * internal/publisher/jetstream.go:316-474).
  *
  * Pinned versions chosen for the widest broker range (KIP-896 removed
  * pre-2.1 versions in Kafka 4.0; both of these survive 2.1 → 4.x):
  *  - Metadata v4 (api key 3): non-flexible, throttle-first response,
  *    per-partition leader ids — the partitioner's input;
  *  - Produce v3 (api key 0): non-flexible, message-format-v2 record
  *    batches (magic 2, CRC32C), transactional_id/acks/timeout framing.
  *
  * Record batches are built byte-exact per the spec's "Record Batch"
  * layout: the CRC is CRC32C (Castagnoli, `java.util.zip.CRC32C`) over
  * everything AFTER the crc field; records use zigzag varint framing.
  */
object KafkaWire {

  val ApiProduce: Short = 0
  val ApiFetch: Short = 1
  val ApiListOffsets: Short = 2
  val ApiMetadata: Short = 3
  val ApiOffsetCommit: Short = 8
  val ApiOffsetFetch: Short = 9
  val ApiFindCoordinator: Short = 10
  val ApiSaslHandshake: Short = 17
  val ApiInitProducerId: Short = 22
  val ApiAddPartitionsToTxn: Short = 24
  val ApiAddOffsetsToTxn: Short = 25
  val ApiEndTxn: Short = 26
  val ApiTxnOffsetCommit: Short = 28
  val ApiSaslAuthenticate: Short = 36

  val ErrOutOfOrderSequence: Short = 45
  val ErrDuplicateSequence: Short = 46
  val ErrInvalidProducerEpoch: Short = 47
  val ErrInvalidTxnState: Short = 48
  val ErrConcurrentTransactions: Short = 51

  val TsEarliest: Long = -2L
  val TsLatest: Long = -1L

  val ErrUnsupportedSaslMechanism: Short = 33
  val ErrSaslAuthenticationFailed: Short = 58

  // retriable/permanent error-code classes (protocol error table)
  val ErrUnknownTopic: Short = 3
  val ErrLeaderNotAvailable: Short = 5
  val ErrNotLeader: Short = 6
  val ErrRequestTimedOut: Short = 7
  val ErrMessageTooLarge: Short = 10
  val ErrInvalidTopic: Short = 17
  val ErrCorruptMessage: Short = 2
  val ErrInvalidRequest: Short = 42
  val ErrInvalidRecord: Short = 87

  def isPermanent(code: Short): Boolean =
    code == ErrMessageTooLarge || code == ErrInvalidTopic ||
      code == ErrInvalidRequest || code == ErrInvalidRecord

  // ---------- growable big-endian buffer ----------

  final class Buf {
    private var arr = new Array[Byte](256)
    private var n = 0
    private def ensure(k: Int): Unit =
      if (n + k > arr.length) {
        arr = java.util.Arrays.copyOf(arr,
          math.max(arr.length * 2, n + k))
      }
    def i8(v: Int): Buf = { ensure(1); arr(n) = v.toByte; n += 1; this }
    def i16(v: Int): Buf = { ensure(2)
      arr(n) = (v >> 8).toByte; arr(n + 1) = v.toByte; n += 2; this }
    def i32(v: Int): Buf = { ensure(4)
      var i = 0; while (i < 4) { arr(n + i) = (v >> (24 - 8 * i)).toByte; i += 1 }
      n += 4; this }
    def i64(v: Long): Buf = { ensure(8)
      var i = 0; while (i < 8) { arr(n + i) = (v >> (56 - 8 * i)).toByte; i += 1 }
      n += 8; this }
    def raw(b: Array[Byte]): Buf = { ensure(b.length)
      System.arraycopy(b, 0, arr, n, b.length); n += b.length; this }
    /** Protocol STRING: int16 length + UTF-8 (null = -1). */
    def str(s: String): Buf =
      if (s == null) i16(-1)
      else { val b = s.getBytes(UTF_8); i16(b.length); raw(b) }
    /** Protocol BYTES: int32 length + raw (null = -1). */
    def bytes(b: Array[Byte]): Buf =
      if (b == null) i32(-1) else { i32(b.length); raw(b) }
    /** Unsigned varint (LEB128). */
    def uvarint(v0: Long): Buf = {
      var v = v0
      while ((v & ~0x7fL) != 0) { i8(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      i8((v & 0x7f).toInt)
    }
    /** Zigzag varint — the record framing's signed form. */
    def varint(v: Long): Buf = uvarint((v << 1) ^ (v >> 63))
    def size: Int = n
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(arr, n)
  }

  // ---------- murmur2 (the default partitioner's hash) ----------

  /** Kafka's murmur2 over the record key; partition =
    * (hash & 0x7fffffff) % numPartitions — byte-compatible with the
    * ecosystem clients so a mixed fleet keys to the same partitions.
    */
  def murmur2(data: Array[Byte]): Int = {
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val r = 24
    val len = data.length
    var h = seed ^ len
    var i = 0
    while (len - i >= 4) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= m; k ^= k >>> r; k *= m
      h *= m; h ^= k
      i += 4
    }
    val left = len - i
    if (left >= 3) h ^= (data(i + 2) & 0xff) << 16
    if (left >= 2) h ^= (data(i + 1) & 0xff) << 8
    if (left >= 1) { h ^= data(i) & 0xff; h *= m }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h
  }

  def partitionFor(key: Array[Byte], numPartitions: Int): Int =
    (murmur2(key) & 0x7fffffff) % numPartitions

  // ---------- record batch (message format v2) ----------

  /** Compression codec ids from the batch attributes (bits 0-2). Gzip
    * is the one codec the JDK provides; the others need native libs.
    */
  val CodecNone = 0
  val CodecGzip = 1

  private[sinks] def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  /** Inflate cap: a record batch's records block may not inflate past
    * the response-frame cap (64 MiB) — CRC proves integrity, not that
    * the compressed payload isn't a zip bomb.
    */
  private val MaxInflatedBytes = 64 * 1024 * 1024

  private[sinks] def gunzip(data: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(data))
    val bos = new java.io.ByteArrayOutputStream(data.length * 4 + 64)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      if (bos.size() + n > MaxInflatedBytes)
        throw new java.io.IOException(
          s"gzip record block inflates past $MaxInflatedBytes bytes")
      bos.write(buf, 0, n); n = in.read(buf)
    }
    in.close()
    bos.toByteArray
  }

  /** One v2 record batch holding `records` (key, value, headers) tuples
    * in order. Single-batch-per-produce is the reference's ordered mode:
    * one publish, one awaited ack. With `compression = CodecGzip` the
    * records block (and only it — the batch header stays plaintext, per
    * spec) is gzip'd and the attributes codec bits say so; the CRC is
    * computed over the compressed bytes, so corruption is caught before
    * inflate.
    */
  def recordBatch(records: Seq[(Array[Byte], Array[Byte], Seq[(String, Array[Byte])])],
      timestampMs: Long, baseOffset: Long = 0L,
      producerId: Long = -1L, producerEpoch: Short = -1,
      baseSequence: Int = -1, compression: Int = CodecNone,
      transactional: Boolean = false, controlBatch: Boolean = false)
      : Array[Byte] = {
    require(records.nonEmpty, "empty record batch")
    require(compression == CodecNone || compression == CodecGzip,
      s"unsupported compression codec $compression (none | gzip)")
    val recs = new Buf
    records.zipWithIndex.foreach { case ((key, value, headers), i) =>
      val rec = new Buf
      rec.i8(0)                    // record attributes
      rec.varint(0L)               // timestampDelta
      rec.varint(i.toLong)         // offsetDelta
      if (key == null) rec.varint(-1L)
      else { rec.varint(key.length.toLong); rec.raw(key) }
      if (value == null) rec.varint(-1L)
      else { rec.varint(value.length.toLong); rec.raw(value) }
      rec.varint(headers.size.toLong)
      headers.foreach { case (hk, hv) =>
        val kb = hk.getBytes(UTF_8)
        rec.varint(kb.length.toLong); rec.raw(kb)
        if (hv == null) rec.varint(-1L)
        else { rec.varint(hv.length.toLong); rec.raw(hv) }
      }
      val rb = rec.toBytes
      recs.varint(rb.length.toLong); recs.raw(rb)
    }
    val recsBytes =
      if (compression == CodecGzip) gzip(recs.toBytes) else recs.toBytes
    // everything after the crc field, crc'd with CRC32C per the spec
    val body = new Buf
    // attributes: codec bits 0-2, CreateTime; bit 4 = transactional,
    // bit 5 = control (transaction marker)
    val attrs = compression | (if (transactional) 0x10 else 0) |
      (if (controlBatch) 0x20 else 0)
    body.i16(attrs.toShort)
    body.i32(records.size - 1)     // lastOffsetDelta
    body.i64(timestampMs)          // baseTimestamp
    body.i64(timestampMs)          // maxTimestamp
    body.i64(producerId)           // -1 = idempotence off
    body.i16(producerEpoch)
    body.i32(baseSequence)
    body.i32(records.size)
    body.raw(recsBytes)
    val bodyBytes = body.toBytes
    val crc = new java.util.zip.CRC32C
    crc.update(bodyBytes)
    val out = new Buf
    out.i64(baseOffset)
    out.i32(4 + 1 + 4 + bodyBytes.length)          // batchLength (after this field)
    out.i32(-1)                                    // partitionLeaderEpoch
    out.i8(2)                                      // magic
    out.i32(crc.getValue.toInt)                    // crc32c
    out.raw(bodyBytes)
    out.toBytes
  }

  /** A transaction control marker as the broker's transaction
    * coordinator writes it: a control batch (attributes bits 4+5) whose
    * single record's key is (int16 version=0, int16 type: 1 COMMIT /
    * 0 ABORT) and whose value is (int16 version=0, int32
    * coordinator_epoch). Occupies one offset.
    */
  def controlMarkerBatch(baseOffset: Long, producerId: Long,
      producerEpoch: Short, commit: Boolean,
      timestampMs: Long = 0L): Array[Byte] = {
    val key = ByteBuffer.allocate(4)
      .putShort(0).putShort(if (commit) 1 else 0).array()
    val value = ByteBuffer.allocate(6).putShort(0).putInt(0).array()
    recordBatch(Seq((key, value, Nil)), timestampMs, baseOffset,
      producerId, producerEpoch, baseSequence = -1,
      transactional = true, controlBatch = true)
  }

  // ---------- requests (header v1: key, version, corrId, clientId) ----------

  private def header(apiKey: Short, version: Short, corrId: Int,
      clientId: String): Buf =
    new Buf().i16(apiKey).i16(version).i32(corrId).str(clientId)

  /** Frame a request: int32 length prefix + header + body. */
  def frame(b: Buf): Array[Byte] = {
    val payload = b.toBytes
    new Buf().i32(payload.length).raw(payload).toBytes
  }

  def metadataRequestV4(corrId: Int, clientId: String,
      topic: String): Array[Byte] = metadataRequestV4(corrId, clientId, Seq(topic))

  /** Metadata v4 for a SET of topics in one round trip — the request
    * body is `[topics]` by spec, so a subscription over N topics
    * resolves every leader map with a single RPC instead of N.
    */
  def metadataRequestV4(corrId: Int, clientId: String,
      topics: Seq[String]): Array[Byte] = {
    val b = header(ApiMetadata, 4, corrId, clientId)
    b.i32(topics.size)
    topics.foreach(b.str)
    b.i8(1)               // allow_auto_topic_creation
    frame(b)
  }

  /** Metadata v4 for ALL topics (null topics array) — what a
    * wildcard-subject subscription resolves its pattern against.
    */
  def metadataAllRequestV4(corrId: Int, clientId: String): Array[Byte] = {
    val b = header(ApiMetadata, 4, corrId, clientId)
    b.i32(-1)             // null topics = every topic
    b.i8(0)               // never auto-create on discovery
    frame(b)
  }

  def produceRequestV3(corrId: Int, clientId: String, topic: String,
      partition: Int, batch: Array[Byte], acks: Short,
      timeoutMs: Int): Array[Byte] =
    produceRequestV3(corrId, clientId, Seq(topic -> Seq((partition, batch))),
      acks, timeoutMs)

  /** Produce v3 carrying MANY (topic, partition, batch) entries in ONE
    * request — `[topic_data][partition_data]` is the body's native
    * shape, the same batching ListOffsets uses on the consumer side: a
    * task publishing to N partitions of one broker pays one RPC, not N.
    */
  def produceRequestV3(corrId: Int, clientId: String,
      entries: Seq[(String, Seq[(Int, Array[Byte])])], acks: Short,
      timeoutMs: Int, transactionalId: String = null): Array[Byte] = {
    val b = header(ApiProduce, 3, corrId, clientId)
    b.str(transactionalId) // non-null only for transactional batches
    b.i16(acks)
    b.i32(timeoutMs)
    b.i32(entries.size)   // topic_data[n]
    entries.foreach { case (topic, parts) =>
      b.str(topic)
      b.i32(parts.size)
      parts.foreach { case (partition, batch) =>
        b.i32(partition)
        b.bytes(batch)    // record_set
      }
    }
    frame(b)
  }

  // ---------- idempotent producer ----------

  /** InitProducerId v0 with a null transactional id — the IDEMPOTENT
    * (not transactional) producer: the broker mints a (producerId,
    * epoch) under which per-partition batch sequence numbers dedup
    * retries server-side.
    */
  def initProducerIdRequestV0(corrId: Int, clientId: String,
      timeoutMs: Int = 30000): Array[Byte] = {
    val b = header(ApiInitProducerId, 0, corrId, clientId)
    b.str(null)          // transactional_id
    b.i32(timeoutMs)
    frame(b)
  }

  /** (error_code, producer_id, producer_epoch). */
  def parseInitProducerIdV0(body: Array[Byte]): (Short, Long, Short) = {
    val b = ByteBuffer.wrap(body)
    b.getInt()           // throttle_time_ms
    val err = b.getShort()
    (err, b.getLong(), b.getShort())
  }

  // ---------- transactional producer (exactly-once publish) ----------

  /** InitProducerId v0 with a TRANSACTIONAL id: registers — or, on
    * re-registration of the same id, FENCES the previous incarnation
    * of — this transactional_id. The coordinator bumps the epoch and
    * aborts anything the old epoch left open; every later frame from the
    * old (pid, epoch) fails INVALID_PRODUCER_EPOCH. The zombie-writer
    * guard a task retry / failed-over executor needs.
    */
  def initProducerIdTxnRequestV0(corrId: Int, clientId: String,
      transactionalId: String, timeoutMs: Int = 60000): Array[Byte] = {
    val b = header(ApiInitProducerId, 0, corrId, clientId)
    b.str(transactionalId)
    b.i32(timeoutMs)
    frame(b)
  }

  /** AddPartitionsToTxn v0: declare the partitions the open transaction
    * will write BEFORE producing to them — this is what lets EndTxn's
    * control markers reach every touched partition.
    */
  def addPartitionsToTxnRequestV0(corrId: Int, clientId: String,
      transactionalId: String, producerId: Long, producerEpoch: Short,
      partitions: Seq[(String, Seq[Int])]): Array[Byte] = {
    val b = header(ApiAddPartitionsToTxn, 0, corrId, clientId)
    b.str(transactionalId).i64(producerId).i16(producerEpoch)
    b.i32(partitions.size)
    partitions.foreach { case (t, ps) =>
      b.str(t); b.i32(ps.size); ps.foreach(b.i32(_)); ()
    }
    frame(b)
  }

  /** Per-(topic, partition) error codes. */
  def parseAddPartitionsToTxnV0(body: Array[Byte])
      : Seq[((String, Int), Short)] = {
    val b = ByteBuffer.wrap(body)
    b.getInt()            // throttle_time_ms
    (0 until b.getInt()).flatMap { _ =>
      val topic = readStr(b)
      (0 until b.getInt()).map { _ => ((topic, b.getInt()), b.getShort()) }
    }
  }

  /** EndTxn v0: commit (true) or abort (false) the open transaction —
    * the coordinator writes a control marker to every partition added
    * via AddPartitionsToTxn, atomically flipping the whole publish for
    * read_committed consumers.
    */
  def endTxnRequestV0(corrId: Int, clientId: String,
      transactionalId: String, producerId: Long, producerEpoch: Short,
      commit: Boolean): Array[Byte] = {
    val b = header(ApiEndTxn, 0, corrId, clientId)
    b.str(transactionalId).i64(producerId).i16(producerEpoch)
      .i8(if (commit) 1 else 0)
    frame(b)
  }

  /** error_code. */
  def parseEndTxnV0(body: Array[Byte]): Short = {
    val b = ByteBuffer.wrap(body)
    b.getInt()            // throttle_time_ms
    b.getShort()
  }

  /** AddOffsetsToTxn v0: enlist a consumer GROUP's offsets topic in the
    * open transaction — the first half of the consume-transform-produce
    * loop closure (the offsets then ride TxnOffsetCommit and become
    * visible atomically with the transaction's records).
    */
  def addOffsetsToTxnRequestV0(corrId: Int, clientId: String,
      transactionalId: String, producerId: Long, producerEpoch: Short,
      groupId: String): Array[Byte] = {
    val b = header(ApiAddOffsetsToTxn, 0, corrId, clientId)
    b.str(transactionalId).i64(producerId).i16(producerEpoch).str(groupId)
    frame(b)
  }

  /** error_code. */
  def parseAddOffsetsToTxnV0(body: Array[Byte]): Short = parseEndTxnV0(body)

  /** TxnOffsetCommit v0: the group offsets that commit ATOMICALLY with
    * the transaction — staged at the group coordinator and applied only
    * when EndTxn commits (discarded on abort).
    */
  def txnOffsetCommitRequestV0(corrId: Int, clientId: String,
      transactionalId: String, groupId: String, producerId: Long,
      producerEpoch: Short, offsets: Map[String, Seq[(Int, Long)]],
      metadata: String = "graft-cdc"): Array[Byte] = {
    val b = header(ApiTxnOffsetCommit, 0, corrId, clientId)
    b.str(transactionalId).str(groupId).i64(producerId).i16(producerEpoch)
    b.i32(offsets.size)
    offsets.toSeq.sortBy(_._1).foreach { case (t, parts) =>
      b.str(t)
      b.i32(parts.size)
      parts.foreach { case (p, off) => b.i32(p).i64(off).str(metadata) }
    }
    frame(b)
  }

  /** Every (topic, partition) → error_code. */
  def parseTxnOffsetCommitV0(body: Array[Byte])
      : Map[(String, Int), Short] = {
    val b = ByteBuffer.wrap(body)
    b.getInt()            // throttle_time_ms
    val out = Map.newBuilder[(String, Int), Short]
    (0 until b.getInt()).foreach { _ =>
      val topic = readStr(b)
      (0 until b.getInt()).foreach { _ =>
        out += ((topic, b.getInt())) -> b.getShort()
      }
    }
    out.result()
  }

  // ---------- SASL (PLAIN + SCRAM ride the same two apis) ----------

  /** SaslHandshake v1: propose a mechanism; the broker answers with its
    * supported list. v1 (not v0) so the subsequent auth tokens ride
    * SaslAuthenticate frames instead of raw unframed bytes.
    */
  def saslHandshakeRequestV1(corrId: Int, clientId: String,
      mechanism: String): Array[Byte] =
    frame(header(ApiSaslHandshake, 1, corrId, clientId).str(mechanism))

  /** (error_code, broker's supported mechanisms). */
  def parseSaslHandshakeV1(body: Array[Byte]): (Short, Seq[String]) = {
    val b = ByteBuffer.wrap(body)
    val err = b.getShort()
    (err, (0 until b.getInt()).map(_ => readStr(b)))
  }

  /** SaslAuthenticate v0: one opaque mechanism token each way. */
  def saslAuthenticateRequestV0(corrId: Int, clientId: String,
      token: Array[Byte]): Array[Byte] =
    frame(header(ApiSaslAuthenticate, 0, corrId, clientId).bytes(token))

  /** (error_code, error_message, auth_bytes). */
  def parseSaslAuthenticateV0(body: Array[Byte]): (Short, String, Array[Byte]) = {
    val b = ByteBuffer.wrap(body)
    val err = b.getShort()
    val msg = readStr(b)
    val n = b.getInt()
    val bytes = if (n <= 0) Array.emptyByteArray
      else { val a = new Array[Byte](n); b.get(a); a }
    (err, msg, bytes)
  }

  // ---------- consumer requests (the subscriber half) ----------

  /** ListOffsets v2 for one partition: timestamp [[TsEarliest]] /
    * [[TsLatest]] resolves the log's start / end offset.
    */
  def listOffsetsRequestV2(corrId: Int, clientId: String, topic: String,
      partition: Int, timestamp: Long): Array[Byte] =
    listOffsetsRequestV2(corrId, clientId,
      Map(topic -> Seq((partition, timestamp))))

  /** ListOffsets v2 for MANY (topic, partition, timestamp) triples in one
    * round trip — the request body is `[topics][partitions]` by spec, so
    * a snapshot over every subscribed partition of a broker costs ONE
    * RPC to that broker, not one per partition (the ecosystem clients
    * batch exactly this way; a per-partition loop is O(partitions)
    * serial driver RTTs per trigger — a scale-killer at production
    * partition counts).
    */
  def listOffsetsRequestV2(corrId: Int, clientId: String,
      topics: Map[String, Seq[(Int, Long)]],
      isolation: Byte = 0): Array[Byte] = {
    val b = header(ApiListOffsets, 2, corrId, clientId)
    b.i32(-1)             // replica_id (consumer)
    b.i8(isolation)       // 0 read_uncommitted (end = HW) / 1 read_committed (end = LSO)
    b.i32(topics.size)
    topics.toSeq.sortBy(_._1).foreach { case (t, parts) =>
      b.str(t)
      b.i32(parts.size)
      parts.foreach { case (p, ts) => b.i32(p).i64(ts) }
    }
    frame(b)
  }

  /** Every (topic, partition) → (error_code, offset) of a ListOffsets v2
    * response — the batched form's parse.
    */
  def parseListOffsetsV2All(body: Array[Byte]): Map[(String, Int), (Short, Long)] = {
    val b = ByteBuffer.wrap(body)
    b.getInt()            // throttle_time_ms
    val out = Map.newBuilder[(String, Int), (Short, Long)]
    (0 until b.getInt()).foreach { _ =>
      val topic = readStr(b)
      (0 until b.getInt()).foreach { _ =>
        val partition = b.getInt()
        val err = b.getShort()
        b.getLong()       // timestamp
        out += ((topic, partition) -> ((err, b.getLong())))
      }
    }
    out.result()
  }

  // ---------- consumer-group offsets (the checkpoint's broker mirror) ----------

  /** FindCoordinator v2 for a consumer GROUP (key_type 0): which broker
    * hosts the group's offsets topic partition — OffsetCommit/OffsetFetch
    * must go THERE, not to an arbitrary broker. v2 rides the same layout
    * as v1 (KIP-320 bumped it without a wire change) and sits in every
    * broker's 2.0 → 4.x supported range.
    */
  def findCoordinatorRequestV2(corrId: Int, clientId: String,
      groupId: String): Array[Byte] =
    findCoordinatorRequestV2(corrId, clientId, groupId, keyType = 0)

  /** FindCoordinator v2 with an explicit key_type: 0 = consumer group,
    * 1 = TRANSACTION coordinator (the broker hosting the
    * transactional_id's slice of the transaction-state topic — every
    * InitProducerId/AddPartitionsToTxn/EndTxn must go there).
    */
  def findCoordinatorRequestV2(corrId: Int, clientId: String,
      key: String, keyType: Int): Array[Byte] =
    frame(header(ApiFindCoordinator, 2, corrId, clientId).str(key)
      .i8(keyType))

  /** (error_code, node_id, host, port). */
  def parseFindCoordinatorV2(body: Array[Byte]): (Short, Int, String, Int) = {
    val b = ByteBuffer.wrap(body)
    b.getInt()            // throttle_time_ms
    val err = b.getShort()
    readStr(b)            // error_message
    (err, b.getInt(), readStr(b), b.getInt())
  }

  /** OffsetCommit v2 as a STANDALONE consumer (generation -1, empty
    * member id — no group-membership protocol, the commit is a mirror of
    * offsets owned elsewhere; the Spark checkpoint stays the source of
    * truth). Batched `[topics][partitions]` like ListOffsets: one RPC to
    * the coordinator commits every subscribed partition. v2 is the
    * oldest version Kafka 4.0 still accepts (KIP-896) and every 0.9+
    * broker speaks it; retention_time -1 = the broker's default.
    */
  def offsetCommitRequestV2(corrId: Int, clientId: String, groupId: String,
      offsets: Map[String, Seq[(Int, Long)]],
      metadata: String = "graft-cdc"): Array[Byte] = {
    val b = header(ApiOffsetCommit, 2, corrId, clientId)
    b.str(groupId)
    b.i32(-1)             // generation_id: standalone (no consumer group protocol)
    b.str("")             // member_id
    b.i64(-1L)            // retention_time_ms: broker default
    b.i32(offsets.size)
    offsets.toSeq.sortBy(_._1).foreach { case (t, parts) =>
      b.str(t)
      b.i32(parts.size)
      parts.foreach { case (p, off) => b.i32(p).i64(off).str(metadata) }
    }
    frame(b)
  }

  /** Every (topic, partition) → error_code of an OffsetCommit v2
    * response (v2 carries no throttle field — that arrived in v3).
    */
  def parseOffsetCommitV2(body: Array[Byte]): Map[(String, Int), Short] = {
    val b = ByteBuffer.wrap(body)
    val out = Map.newBuilder[(String, Int), Short]
    (0 until b.getInt()).foreach { _ =>
      val topic = readStr(b)
      (0 until b.getInt()).foreach { _ =>
        out += ((topic, b.getInt()) -> b.getShort())
      }
    }
    out.result()
  }

  /** OffsetFetch v1 (the first broker-backed version; v0 read ZooKeeper)
    * — batched `[topics][partitions]`, one RPC to the coordinator reads
    * every subscribed partition's committed offset. A partition with no
    * commit answers offset -1, error 0.
    */
  def offsetFetchRequestV1(corrId: Int, clientId: String, groupId: String,
      topics: Map[String, Seq[Int]]): Array[Byte] = {
    val b = header(ApiOffsetFetch, 1, corrId, clientId)
    b.str(groupId)
    b.i32(topics.size)
    topics.toSeq.sortBy(_._1).foreach { case (t, parts) =>
      b.str(t)
      b.i32(parts.size)
      parts.foreach(b.i32)
    }
    frame(b)
  }

  /** Every (topic, partition) → (error_code, committed offset; -1 = no
    * commit) of an OffsetFetch v1 response.
    */
  def parseOffsetFetchV1(body: Array[Byte]): Map[(String, Int), (Short, Long)] = {
    val b = ByteBuffer.wrap(body)
    val out = Map.newBuilder[(String, Int), (Short, Long)]
    (0 until b.getInt()).foreach { _ =>
      val topic = readStr(b)
      (0 until b.getInt()).foreach { _ =>
        val partition = b.getInt()
        val off = b.getLong()
        readStr(b)        // metadata
        out += ((topic, partition) -> ((b.getShort(), off)))
      }
    }
    out.result()
  }

  /** Fetch v4 for one partition (message-format-v2 record batches).
    * `isolation` 0 = read_uncommitted, 1 = read_committed (the broker
    * then bounds the response at the last stable offset and attaches
    * the overlapping aborted transactions).
    */
  def fetchRequestV4(corrId: Int, clientId: String, topic: String,
      partition: Int, fetchOffset: Long, maxWaitMs: Int,
      maxBytes: Int, isolation: Byte = 0): Array[Byte] = {
    val b = header(ApiFetch, 4, corrId, clientId)
    b.i32(-1)             // replica_id
    b.i32(maxWaitMs)
    b.i32(1)              // min_bytes
    b.i32(maxBytes)
    b.i8(isolation)
    b.i32(1).str(topic)
    b.i32(1).i32(partition).i64(fetchOffset).i32(maxBytes)
    frame(b)
  }

  /** Full first-partition view of a Fetch v4 response: (error_code,
    * high_watermark, last_stable_offset, aborted (producer_id,
    * first_offset) pairs, record_set).
    */
  def parseFetchV4Txn(body: Array[Byte])
      : (Short, Long, Long, Seq[(Long, Long)], Array[Byte]) = {
    val b = ByteBuffer.wrap(body)
    b.getInt()            // throttle_time_ms
    require(b.getInt() >= 1, "fetch response without topics")
    readStr(b)
    require(b.getInt() >= 1, "fetch response without partitions")
    b.getInt()            // partition index
    val err = b.getShort()
    val hw = b.getLong()
    val lso = b.getLong()
    var nAborted = b.getInt()
    if (nAborted < 0) nAborted = 0
    val aborted = (0 until nAborted).map(_ => (b.getLong(), b.getLong()))
    val setLen = b.getInt()
    val set =
      if (setLen <= 0) Array.emptyByteArray
      else { val a = new Array[Byte](setLen); b.get(a); a }
    (err, hw, lso, aborted, set)
  }

  /** (error_code, high_watermark, record_set) of a Fetch v4 response's
    * first partition.
    */
  def parseFetchV4(body: Array[Byte]): (Short, Long, Array[Byte]) = {
    val (err, hw, _, _, set) = parseFetchV4Txn(body)
    (err, hw, set)
  }

  /** One consumed record: absolute offset, timestamp, key/value (null
    * allowed), headers.
    */
  final case class FetchedRecord(offset: Long, timestampMs: Long,
      key: Array[Byte], value: Array[Byte], headers: Seq[(String, Array[Byte])])

  private def readUvarint(b: ByteBuffer): Long = {
    var v = 0L; var shift = 0; var done = false
    while (!done) {
      val x = b.get() & 0xff
      v |= (x & 0x7fL) << shift; shift += 7
      done = (x & 0x80) == 0
    }
    v
  }
  private def readVarint(b: ByteBuffer): Long = {
    val u = readUvarint(b); (u >>> 1) ^ -(u & 1)
  }

  /** One decoded v2 batch with the metadata transactional consumption
    * needs: `control` is the marker type when attributes bit 5 is set
    * (0 = ABORT, 1 = COMMIT, parsed from the control record's key;
    * `records` is empty then), `lastOffset` = baseOffset +
    * lastOffsetDelta (the advance point even when the batch's records
    * are filtered out).
    */
  final case class DecodedBatch(baseOffset: Long, lastOffset: Long,
      transactional: Boolean, producerId: Long, control: Option[Short],
      records: Seq[FetchedRecord])

  /** Decode a Fetch record_set into its CONCATENATED v2 batches,
    * CRC32C-verified. A partial trailing batch (the broker may cut the
    * set at max_bytes mid-batch) is dropped, per the protocol's
    * "clients should ignore a truncated final record" rule.
    */
  def decodeBatches(set: Array[Byte]): Seq[DecodedBatch] = {
    val out = Seq.newBuilder[DecodedBatch]
    val b = ByteBuffer.wrap(set)
    while (b.remaining() >= 12 + 49) { // header through first record possible
      val baseOffset = b.getLong()
      val batchLength = b.getInt()
      if (b.remaining() < batchLength) { b.position(b.limit()); () } // truncated tail
      else {
        val batchEnd = b.position() + batchLength
        b.getInt()                     // partitionLeaderEpoch
        val magic = b.get()
        require(magic == 2, s"unsupported record batch magic $magic")
        val crc = b.getInt()
        val body = new Array[Byte](batchEnd - b.position())
        b.get(body)
        val c = new java.util.zip.CRC32C
        c.update(body)
        require(c.getValue.toInt == crc, "record batch CRC32C mismatch")
        val d = ByteBuffer.wrap(body)
        val attributes = d.getShort()
        val isControl = (attributes & 0x20) != 0
        val isTxn = (attributes & 0x10) != 0
        val codec = attributes & 0x7
        require(codec == CodecNone || codec == CodecGzip,
          s"compressed record batch (codec $codec) not supported (gzip only)")
        val lastOffsetDelta = d.getInt()
        val baseTs = d.getLong()
        d.getLong()                    // maxTimestamp
        val pid = d.getLong()
        d.getShort(); d.getInt()       // producer epoch / base sequence
        val n = d.getInt()
        // the records block is what compression covers; inflate AFTER
        // the CRC check above so corruption never reaches the inflater
        val r = if (codec == CodecNone) d else {
          val comp = new Array[Byte](d.remaining()); d.get(comp)
          ByteBuffer.wrap(gunzip(comp))
        }
        def blob(): Array[Byte] = {
          val len = readVarint(r).toInt
          if (len < 0) null
          else { val a = new Array[Byte](len); r.get(a); a }
        }
        if (isControl) {
          // control batches (attributes bit 5) carry transaction
          // commit/abort markers, not data — never surfaced as records.
          // The marker TYPE rides the single control record's key
          // (int16 version, int16 type: 0 abort / 1 commit); an
          // unparseable key degrades to "unknown marker" (None-like -1),
          // which read_committed treats as neither commit nor abort.
          var ctype: Short = -1
          if (n >= 1) {
            readVarint(r); r.get(); readVarint(r); readVarint(r)
            val key = blob()
            if (key != null && key.length >= 4)
              ctype = ByteBuffer.wrap(key).getShort(2)
          }
          out += DecodedBatch(baseOffset, baseOffset + lastOffsetDelta,
            isTxn, pid, Some(ctype), Seq.empty)
        } else {
          val recs = Seq.newBuilder[FetchedRecord]
          var i = 0
          while (i < n) {
            readVarint(r)                // record length
            r.get()                      // record attributes
            val tsDelta = readVarint(r)
            val offDelta = readVarint(r)
            val key = blob(); val value = blob()
            val headers = (0 until readVarint(r).toInt).map { _ =>
              val hk = new String(blob(), UTF_8); hk -> blob()
            }
            recs += FetchedRecord(baseOffset + offDelta, baseTs + tsDelta,
              key, value, headers)
            i += 1
          }
          out += DecodedBatch(baseOffset, baseOffset + lastOffsetDelta,
            isTxn, pid, None, recs.result())
        }
      }
    }
    out.result()
  }

  /** Decode a Fetch record_set's data records — read_uncommitted view:
    * control batches are skipped (the protocol's rule for clients),
    * transactional records surface whether or not their transaction
    * committed.
    */
  def decodeRecordSet(set: Array[Byte]): Seq[FetchedRecord] =
    decodeBatches(set).filter(_.control.isEmpty).flatMap(_.records)

  /** The read_committed filter — the ecosystem consumer's aborted-
    * transaction algorithm over decoded batches: walking batches in
    * offset order, a producer id becomes "aborted" when the fetch
    * response's aborted-transactions list holds an entry whose
    * first_offset ≤ the batch's base offset, and stops being aborted at
    * its ABORT control marker; transactional data batches from a
    * currently-aborted pid are dropped whole. COMMIT markers need no
    * action (a committed transaction's pid was never activated), and
    * non-transactional batches always pass.
    */
  def committedRecords(batches: Seq[DecodedBatch],
      aborted: Seq[(Long, Long)]): Seq[FetchedRecord] = {
    val byFirst = aborted.sortBy(_._2)
    var ai = 0
    val abortedPids = scala.collection.mutable.Set.empty[Long]
    val out = Seq.newBuilder[FetchedRecord]
    batches.foreach { bt =>
      while (ai < byFirst.length && byFirst(ai)._2 <= bt.baseOffset) {
        abortedPids += byFirst(ai)._1; ai += 1
      }
      bt.control match {
        case Some(t) => if (t == 0) { abortedPids -= bt.producerId; () }
        case None =>
          if (!(bt.transactional && abortedPids.contains(bt.producerId)))
            out ++= bt.records
      }
    }
    out.result()
  }

  /** read_committed view of a record_set given the Fetch response's
    * aborted-transactions list ((producer_id, first_offset) pairs).
    */
  def decodeRecordSetCommitted(set: Array[Byte],
      aborted: Seq[(Long, Long)]): Seq[FetchedRecord] =
    committedRecords(decodeBatches(set), aborted)

  // ---------- responses ----------

  final case class PartitionMeta(errorCode: Short, index: Int, leader: Int)
  final case class TopicMeta(errorCode: Short, name: String,
      partitions: Seq[PartitionMeta])
  final case class MetadataResponse(brokers: Map[Int, (String, Int)],
      topics: Seq[TopicMeta])

  private def readStr(b: ByteBuffer): String = {
    val len = b.getShort()
    if (len < 0) null
    else { val a = new Array[Byte](len); b.get(a); new String(a, UTF_8) }
  }

  /** Metadata v4 response body (after the correlation id). */
  def parseMetadataV4(body: Array[Byte]): MetadataResponse = {
    val b = ByteBuffer.wrap(body)
    b.getInt() // throttle_time_ms
    val brokers = (0 until b.getInt()).map { _ =>
      val id = b.getInt(); val host = readStr(b); val port = b.getInt()
      readStr(b) // rack
      id -> (host, port)
    }.toMap
    readStr(b)  // cluster_id
    b.getInt()  // controller_id
    val topics = (0 until b.getInt()).map { _ =>
      val err = b.getShort(); val name = readStr(b)
      b.get()   // is_internal
      val parts = (0 until b.getInt()).map { _ =>
        val perr = b.getShort(); val idx = b.getInt(); val leader = b.getInt()
        var i = b.getInt(); while (i > 0) { b.getInt(); i -= 1 } // replicas
        i = b.getInt(); while (i > 0) { b.getInt(); i -= 1 }     // isr
        PartitionMeta(perr, idx, leader)
      }
      TopicMeta(err, name, parts)
    }
    MetadataResponse(brokers, topics)
  }

  /** Every (topic, partition) → (error, baseOffset) in a Produce v3
    * response — the read half of the multi-partition request.
    */
  def parseProduceResponseAll(
      body: Array[Byte]): Seq[((String, Int), (Short, Long))] = {
    val b = ByteBuffer.wrap(body)
    val nTopics = b.getInt()
    (0 until nTopics).flatMap { _ =>
      val topic = readStr(b)
      val nParts = b.getInt()
      (0 until nParts).map { _ =>
        val partition = b.getInt()
        val err = b.getShort()
        val baseOffset = b.getLong()
        b.getLong()        // log_append_time (v2+)
        ((topic, partition), (err, baseOffset))
      }
    }
  }
}
