package graft.sinks

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}

/** Kafka wire protocol producer — the broker transport the reference's
  * async-kafka output gets from sarama (pkg/outputs/async_kafka/
  * async_kafka.go:150-226 wraps an AsyncProducer; this closes that
  * delegated layer, completing the TidbProto / MsgPb / BinlogWire /
  * MongoWire set). Hand-rolled from the public protocol spec.
  *
  * Scope: ProduceRequest v2 with MessageSet v1 (magic 1: CRC32 over
  * magic..value, create-time timestamps), fetch decode of BOTH v1 sets
  * and v2 RecordBatches (magic 2: CRC32C, zigzag varints, zstd legal,
  * control batches skipped), and ProduceResponse v2 —
  * the classic framing every broker still accepts. Kafka is BIG-endian
  * on the wire, unlike MySQL/Mongo. Partitioning stays the caller's
  * (the sink computes pk-hash sticky partitions exactly like
  * KafkaJson.partitionFor); acks=-1 waits for full ISR like the
  * reference's WaitForAll default.
  */
object KafkaWire {

  // ----------------------------------------------------- BE primitives

  final class Writer {
    private val out = new java.io.ByteArrayOutputStream(256)
    def result(): Array[Byte] = out.toByteArray
    def i8(v: Int): this.type = { out.write(v & 0xff); this }
    def i16(v: Int): this.type = { i8(v >> 8); i8(v) }
    def i32(v: Int): this.type = { i16(v >> 16); i16(v) }
    def i64(v: Long): this.type = { i32((v >> 32).toInt); i32(v.toInt) }
    def raw(b: Array[Byte]): this.type = { out.write(b, 0, b.length); this }
    def str(s: String): this.type = {
      val b = s.getBytes("UTF-8"); i16(b.length); raw(b)
    }
    def bytes(b: Array[Byte]): this.type =
      if (b == null) i32(-1) else { i32(b.length); raw(b) }
    /** zigzag varint/varlong — the record-level framing of batch v2 */
    def varlong(v: Long): this.type = {
      var u = (v << 1) ^ (v >> 63)
      while ((u & ~0x7fL) != 0) { i8(((u & 0x7f) | 0x80).toInt); u >>>= 7 }
      i8(u.toInt)
    }
    def varint(v: Int): this.type = varlong(v.toLong)
    /** varint-length-prefixed bytes (-1 = null), v2 record key/value form */
    def varBytes(b: Array[Byte]): this.type =
      if (b == null) varint(-1) else { varint(b.length); raw(b) }
  }

  final class Reader(b: Array[Byte], var pos: Int = 0) {
    def remaining: Int = b.length - pos
    def i8(): Int = { val v = b(pos) & 0xff; pos += 1; v }
    def i16(): Int = ((i8() << 8) | i8()).toShort.toInt
    def i32(): Int = (i16() << 16) | (i16() & 0xffff)
    def i64(): Long = (i32().toLong << 32) | (i32().toLong & 0xffffffffL)
    def str(): String = { val n = i16(); val s = new String(b, pos, n, "UTF-8"); pos += n; s }
    def bytes(): Array[Byte] = {
      val n = i32()
      if (n < 0) null
      else { val r = java.util.Arrays.copyOfRange(b, pos, pos + n); pos += n; r }
    }
    def varlong(): Long = {
      var u = 0L; var shift = 0; var x = 0
      do {
        x = i8()
        require(shift <= 63, "kafka: varint overruns 64 bits")
        u |= (x & 0x7fL) << shift; shift += 7
      } while ((x & 0x80) != 0)
      (u >>> 1) ^ -(u & 1)
    }
    def varint(): Int = varlong().toInt
    def varBytes(): Array[Byte] = {
      val n = varint()
      if (n < 0) null
      else { val r = java.util.Arrays.copyOfRange(b, pos, pos + n); pos += n; r }
    }
  }

  // ------------------------------------------------------- message set

  /** One MessageSet v1 entry: offset(0) + size + message(crc, magic 1,
    * attrs 0, timestamp, key, value). CRC32 covers magic..value.
    */
  def messageSet(records: Seq[(Array[Byte], Array[Byte])], timestampMs: Long): Array[Byte] =
    // offset 0: producer sends 0, broker assigns
    messageSetAt(records.map { case (k, v) => (0L, k, v) }, timestampMs)

  /** MessageSet v1 with explicit offsets (broker side of a fetch). */
  def messageSetAt(records: Seq[(Long, Array[Byte], Array[Byte])],
      timestampMs: Long): Array[Byte] = {
    val w = new Writer
    records.foreach { case (offset, key, value) =>
      val body = new Writer()
        .i8(1) // magic 1
        .i8(0) // attributes: no compression
        .i64(timestampMs)
        .bytes(key)
        .bytes(value)
        .result()
      val crc = new java.util.zip.CRC32
      crc.update(body)
      val msg = new Writer().i32(crc.getValue.toInt).raw(body).result()
      w.i64(offset)
      w.i32(msg.length)
      w.raw(msg)
    }
    w.result()
  }

  /** Parse a MessageSet v1, VALIDATING each CRC (what a broker does).
    * With `tolerateTruncation` a trailing partial message (a fetch cut
    * at max_bytes mid-message — normal broker behavior) is ignored
    * instead of failing; produce validation stays strict.
    */
  def parseMessageSet(b: Array[Byte],
      tolerateTruncation: Boolean = false): Seq[(Long, Array[Byte], Array[Byte])] = {
    val r = new Reader(b)
    val out = Seq.newBuilder[(Long, Array[Byte], Array[Byte])]
    while (r.remaining > 0) {
      if (r.remaining < 17) {
        if (tolerateTruncation) return out.result()
        throw new IllegalArgumentException(
          s"kafka: message set truncated at ${r.remaining} trailing bytes")
      }
      // both formats put the magic byte 16 bytes past the entry start
      // (v1: offset+size+crc, v2: baseOffset+batchLength+leaderEpoch) —
      // sniff it so a topic stored as v2 RecordBatches (any broker
      // since 0.11 with message.format.version=2) decodes on the same
      // fetch path as down-converted v1 sets
      if ((b(r.pos + 16) & 0xff) == 2) {
        if (!parseRecordBatch(b, r, tolerateTruncation, out)) return out.result()
      } else parseV1Entry(b, r, tolerateTruncation, out) match {
        case false => return out.result()
        case true => ()
      }
    }
    out.result()
  }

  private def parseV1Entry(b: Array[Byte], r: Reader,
      tolerateTruncation: Boolean,
      out: scala.collection.mutable.Builder[(Long, Array[Byte], Array[Byte]),
        Seq[(Long, Array[Byte], Array[Byte])]]): Boolean = {
    {
      val offset = r.i64()
      val size = r.i32()
      if (tolerateTruncation && r.remaining < size) return false
      val start = r.pos
      val crc = r.i32().toLong & 0xffffffffL
      val check = new java.util.zip.CRC32
      check.update(b, r.pos, size - 4)
      require(check.getValue == crc, s"kafka: message CRC mismatch at offset $offset")
      val magic = r.i8()
      require(magic == 1, s"kafka: unsupported message magic $magic")
      // attributes low bits = compression codec; a compressed wrapper's
      // value is an INNER message set. gzip, snappy and lz4 decode (all
      // three codecs ship with the JVM/Spark runtime; magic-1 lz4 is the
      // standard LZ4 frame format per KIP-57). zstd is refused loudly —
      // KIP-110 admits it only inside v2 record batches, so a zstd bit
      // on a magic-1 message is a protocol violation, and surfacing a
      // wrapper as one raw record would be silent corruption (posture of
      // JsonBinary/BinlogWire: decode exactly or refuse)
      val attrs = r.i8()
      val codec = attrs & 0x07
      r.i64() // timestamp
      val key = r.bytes()
      val value = r.bytes()
      require(r.pos == start + size, "kafka: message size mismatch")
      if (codec == 0) out += ((offset, key, value))
      else {
        val inner = parseMessageSet(decompress(codec, value))
        require(inner.nonEmpty, "kafka: compressed wrapper holds no messages")
        // v1 wrappers carry the LAST inner message's absolute offset;
        // inner offsets are relative 0..n-1 (KIP-31)
        val lastRel = inner.last._1
        inner.foreach { case (rel, k, v) => out += ((offset - lastRel + rel, k, v)) }
      }
    }
    true
  }

  /** RecordBatch v2 (magic 2, any broker since 0.11): CRC32C over
    * attributes..records, zigzag-varint record framing, whole-records
    * compression (gzip/snappy/lz4/zstd — zstd is LEGAL here, KIP-110),
    * control batches (transaction markers) skipped. Returns false on a
    * tolerated truncation.
    */
  private def parseRecordBatch(b: Array[Byte], r: Reader,
      tolerateTruncation: Boolean,
      out: scala.collection.mutable.Builder[(Long, Array[Byte], Array[Byte]),
        Seq[(Long, Array[Byte], Array[Byte])]]): Boolean = {
    val baseOffset = r.i64()
    val batchLength = r.i32()
    if (tolerateTruncation && r.remaining < batchLength) return false
    val end = r.pos + batchLength
    r.i32() // partitionLeaderEpoch — NOT covered by the crc
    val magic = r.i8()
    require(magic == 2, s"kafka: unsupported batch magic $magic")
    val crc = r.i32().toLong & 0xffffffffL
    val check = new java.util.zip.CRC32C
    check.update(b, r.pos, end - r.pos)
    require(check.getValue == crc,
      s"kafka: record batch CRC32C mismatch at offset $baseOffset")
    val attrs = r.i16()
    val codec = attrs & 0x07
    val isControl = (attrs & 0x20) != 0
    r.i32() // lastOffsetDelta
    r.i64(); r.i64() // first/max timestamp
    r.i64() // producerId
    r.i16() // producerEpoch
    r.i32() // baseSequence
    val recordCount = r.i32()
    val payload = java.util.Arrays.copyOfRange(b, r.pos, end)
    r.pos = end
    val recBytes =
      if (codec == 0) payload else decompress(codec, payload, zstdLegal = true)
    val rr = new Reader(recBytes)
    (0 until recordCount).foreach { _ =>
      val len = rr.varint()
      val recEnd = rr.pos + len
      rr.i8() // record attributes (unused)
      rr.varlong() // timestampDelta
      val offsetDelta = rr.varint()
      val key = rr.varBytes()
      val value = rr.varBytes()
      val headerCount = rr.varint()
      (0 until headerCount).foreach { _ => rr.varBytes(); rr.varBytes() }
      require(rr.pos == recEnd, "kafka: record length mismatch")
      // control records (commit/abort markers) are broker metadata, not
      // data — a consumer skips them (read_uncommitted semantics)
      if (!isControl) out += ((baseOffset + offsetDelta, key, value))
    }
    true
  }

  /** Broker-side RecordBatch v2 builder — what a modern topic serves to
    * fetchers without down-conversion.
    */
  def recordBatchAt(records: Seq[(Long, Array[Byte], Array[Byte])],
      timestampMs: Long, codec: Int = 0, control: Boolean = false): Array[Byte] = {
    require(records.nonEmpty, "kafka: empty record batch")
    val baseOffset = records.head._1
    val recs = new Writer
    records.foreach { case (offset, key, value) =>
      val body = new Writer()
        .i8(0) // record attributes
        .varlong(0L) // timestampDelta
        .varint((offset - baseOffset).toInt)
        .varBytes(key)
        .varBytes(value)
        .varint(0) // headers
        .result()
      recs.varint(body.length).raw(body)
    }
    val recBytes = recs.result()
    val payload = if (codec == 0) recBytes else {
      val bos = new java.io.ByteArrayOutputStream(recBytes.length / 2 + 64)
      val zos: OutputStream = codec match {
        case 1 => new java.util.zip.GZIPOutputStream(bos)
        case 2 => new org.xerial.snappy.SnappyOutputStream(bos)
        case 3 => new net.jpountz.lz4.LZ4FrameOutputStream(bos)
        case 4 => new com.github.luben.zstd.ZstdOutputStream(bos)
        case c => throw new IllegalArgumentException(s"kafka: codec $c not writable")
      }
      try { zos.write(recBytes) } finally zos.close()
      bos.toByteArray
    }
    val afterCrc = new Writer()
      .i16(codec | (if (control) 0x20 else 0)) // attributes
      .i32((records.last._1 - baseOffset).toInt) // lastOffsetDelta
      .i64(timestampMs).i64(timestampMs)
      .i64(-1L) // producerId
      .i16(-1) // producerEpoch
      .i32(-1) // baseSequence
      .i32(records.length)
      .raw(payload)
      .result()
    val crc = new java.util.zip.CRC32C
    crc.update(afterCrc)
    val batchBody = new Writer()
      .i32(0) // partitionLeaderEpoch
      .i8(2) // magic
      .i32(crc.getValue.toInt)
      .raw(afterCrc)
      .result()
    new Writer()
      .i64(baseOffset)
      .i32(batchBody.length)
      .raw(batchBody)
      .result()
  }

  /** Wrapper-value decompression, size-capped (a fetched set is bounded
    * by max_bytes; a wrapper inflating past this is corruption or a
    * decompression bomb, and either way not data).
    */
  val MaxDecompressedBytes: Int = 64 * 1024 * 1024

  private def decompress(codec: Int, value: Array[Byte],
      zstdLegal: Boolean = false): Array[Byte] = {
    var in: InputStream = null
    try {
      // the stream constructors validate the header — corrupt input can
      // throw HERE, so construction sits inside the protocol-error wrap
      in = codec match {
        case 1 => new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(value))
        case 2 => new org.xerial.snappy.SnappyInputStream(
          new java.io.ByteArrayInputStream(value))
        case 3 => new net.jpountz.lz4.LZ4FrameInputStream(
          new java.io.ByteArrayInputStream(value))
        case 4 if zstdLegal => new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(value))
        case c => throw new IllegalArgumentException(
          s"kafka: unsupported compression codec $c (gzip=1/snappy=2/lz4=3 " +
            "decode; zstd=4 is v2-record-batch-only and never valid on magic-1 messages)")
      }
      val out = new java.io.ByteArrayOutputStream(math.max(64, value.length * 2))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        require(out.size() <= MaxDecompressedBytes,
          s"kafka: compressed wrapper inflates past $MaxDecompressedBytes bytes")
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      case e: java.io.IOException => throw new IllegalArgumentException(
        s"kafka: corrupt compressed wrapper (codec $codec): ${e.getMessage}")
    } finally if (in != null) in.close()
  }

  /** Build a COMPRESSED wrapper message around an inner set — the
    * broker-side form a real topic with compression.type=gzip/snappy/lz4
    * serves to fetchers. Inner records get relative offsets 0..n-1 and
    * the wrapper carries the last record's absolute offset (KIP-31).
    */
  def compressedMessageSet(codec: Int,
      records: Seq[(Long, Array[Byte], Array[Byte])],
      timestampMs: Long): Array[Byte] = {
    require(records.nonEmpty, "kafka: empty compressed set")
    val relative = records.zipWithIndex.map { case ((_, k, v), i) => (i.toLong, k, v) }
    val innerBytes = messageSetAt(relative, timestampMs)
    val compressed = {
      val bos = new java.io.ByteArrayOutputStream(innerBytes.length / 2 + 64)
      val zos: OutputStream = codec match {
        case 1 => new java.util.zip.GZIPOutputStream(bos)
        case 2 => new org.xerial.snappy.SnappyOutputStream(bos)
        case 3 => new net.jpountz.lz4.LZ4FrameOutputStream(bos)
        case c => throw new IllegalArgumentException(s"kafka: codec $c not writable")
      }
      try { zos.write(innerBytes) } finally zos.close()
      bos.toByteArray
    }
    val body = new Writer()
      .i8(1) // magic 1
      .i8(codec) // attributes: compression codec
      .i64(timestampMs)
      .bytes(null) // wrapper key is null
      .bytes(compressed)
      .result()
    val crc = new java.util.zip.CRC32
    crc.update(body)
    val msg = new Writer().i32(crc.getValue.toInt).raw(body).result()
    new Writer()
      .i64(records.last._1) // wrapper offset = last inner absolute
      .i32(msg.length)
      .raw(msg)
      .result()
  }

  // ------------------------------------------------------ produce v2

  val ApiProduce = 0

  /** Produce v2 carries MessageSet v1; v3 (KIP-98) prefixes a nullable
    * transactional_id and carries RecordBatch v2 — the ONLY produce form
    * a 4.x broker still accepts (KIP-724 removed v0/v1 message formats).
    */
  def produceRequest(correlationId: Int, clientId: String, topic: String,
      partition: Int, recordSet: Array[Byte], acks: Int = -1,
      timeoutMs: Int = 10000, apiVersion: Int = 2): Array[Byte] = {
    require(apiVersion == 2 || apiVersion == 3,
      s"kafka: produce api version $apiVersion not supported")
    val w = new Writer()
      .i16(ApiProduce).i16(apiVersion)
      .i32(correlationId).str(clientId)
    if (apiVersion >= 3) w.i16(-1) // transactional_id: null
    w.i16(acks).i32(timeoutMs)
      .i32(1).str(topic) // one topic
      .i32(1).i32(partition) // one partition
      .bytes(recordSet)
      .result()
  }

  final case class ProduceResult(topic: String, partition: Int,
      errorCode: Int, baseOffset: Long)

  def parseProduceResponse(b: Array[Byte]): (Int, Seq[ProduceResult]) = {
    val r = new Reader(b)
    val correlationId = r.i32()
    val results = Seq.newBuilder[ProduceResult]
    val nTopics = r.i32()
    (0 until nTopics).foreach { _ =>
      val topic = r.str()
      val nParts = r.i32()
      (0 until nParts).foreach { _ =>
        val partition = r.i32()
        val err = r.i16()
        val baseOffset = r.i64()
        r.i64() // log append time (v2)
        results += ProduceResult(topic, partition, err, baseOffset)
      }
    }
    r.i32() // throttle time (v2)
    (correlationId, results.result())
  }

  // -------------------------------------------------------- fetch v2

  val ApiFetch = 1

  /** FetchRequest v2: one (topic, partition) from `offset`. max_wait_ms
    * lets the broker BLOCK when caught up (min_bytes 1) — the long-poll
    * that keeps a tailing consumer from busy-spinning.
    */
  /** Fetch v2 is the sarama-era request; v4 (KIP-98) adds the
    * request-level max_bytes + isolation_level and is the floor a 4.x
    * broker accepts (KIP-896 removed v0–v3).
    */
  def fetchRequest(correlationId: Int, clientId: String, topic: String,
      partition: Int, offset: Long, maxBytes: Int = 1 << 20,
      maxWaitMs: Int = 500, apiVersion: Int = 2): Array[Byte] = {
    require(apiVersion == 2 || apiVersion == 4,
      s"kafka: fetch api version $apiVersion not supported")
    val w = new Writer()
      .i16(ApiFetch).i16(apiVersion)
      .i32(correlationId).str(clientId)
      .i32(-1) // replica_id: ordinary consumer
      .i32(maxWaitMs).i32(1) // min_bytes
    if (apiVersion >= 4) w.i32(maxBytes) // request-level cap (v3+)
      .i8(0) // isolation_level: read_uncommitted
    w.i32(1).str(topic) // one topic
      .i32(1).i32(partition).i64(offset).i32(maxBytes)
      .result()
  }

  final case class FetchResult(topic: String, partition: Int, errorCode: Int,
      highWatermark: Long, records: Seq[(Long, Array[Byte], Array[Byte])])

  /** FetchResponse v2/v4: throttle, then per-partition error/high-water
    * (v4 adds last_stable_offset + aborted_transactions) and a
    * CRC-validated record set (broker-assigned offsets).
    */
  def parseFetchResponse(b: Array[Byte], apiVersion: Int = 2): (Int, Seq[FetchResult]) = {
    val r = new Reader(b)
    val correlationId = r.i32()
    r.i32() // throttle time
    val results = Seq.newBuilder[FetchResult]
    val nTopics = r.i32()
    (0 until nTopics).foreach { _ =>
      val topic = r.str()
      val nParts = r.i32()
      (0 until nParts).foreach { _ =>
        val partition = r.i32()
        val err = r.i16()
        val hw = r.i64()
        if (apiVersion >= 4) {
          r.i64() // last_stable_offset (read_uncommitted: unused)
          val nAborted = r.i32() // nullable aborted_transactions
          if (nAborted > 0) (0 until nAborted).foreach { _ => r.i64(); r.i64() }
        }
        val recordSet = r.bytes()
        val records =
          if (recordSet == null || recordSet.isEmpty) Nil
          else parseMessageSet(recordSet, tolerateTruncation = true)
        results += FetchResult(topic, partition, err, hw, records)
      }
    }
    (correlationId, results.result())
  }

  /** Length-prefixed framing (i32 BE). */
  def writeFrame(out: OutputStream, body: Array[Byte]): Unit = {
    out.write((body.length >> 24) & 0xff); out.write((body.length >> 16) & 0xff)
    out.write((body.length >> 8) & 0xff); out.write(body.length & 0xff)
    out.write(body)
    out.flush()
  }

  def readFrame(in: InputStream): Array[Byte] = {
    def b(): Int = {
      val v = in.read()
      if (v < 0) throw new java.io.EOFException("kafka: connection closed")
      v
    }
    val len = (b() << 24) | (b() << 16) | (b() << 8) | b()
    require(len >= 0 && len <= 128 * 1024 * 1024, s"kafka: implausible frame length $len")
    val body = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val n = in.read(body, off, len - off)
      if (n < 0) throw new java.io.EOFException("kafka: truncated frame")
      off += n
    }
    body
  }

  final case class BrokerError(code: Int)
      extends RuntimeException(s"kafka: produce failed with error code $code")

  // ------------------------------------------------------ SASL / SCRAM

  val ApiSaslHandshake = 17
  val ApiSaslAuthenticate = 36

  def saslHandshakeRequest(correlationId: Int, clientId: String,
      mechanism: String): Array[Byte] =
    new Writer().i16(ApiSaslHandshake).i16(1)
      .i32(correlationId).str(clientId).str(mechanism).result()

  /** → (errorCode, enabled mechanisms) */
  def parseSaslHandshakeResponse(b: Array[Byte]): (Int, Int, Seq[String]) = {
    val r = new Reader(b)
    val correlationId = r.i32()
    val err = r.i16()
    val n = r.i32()
    (correlationId, err, (0 until n).map(_ => r.str()))
  }

  def saslAuthenticateRequest(correlationId: Int, clientId: String,
      authBytes: Array[Byte]): Array[Byte] =
    new Writer().i16(ApiSaslAuthenticate).i16(0)
      .i32(correlationId).str(clientId).bytes(authBytes).result()

  /** → (errorCode, errorMessage, authBytes) */
  def parseSaslAuthenticateResponse(b: Array[Byte]): (Int, Int, String, Array[Byte]) = {
    val r = new Reader(b)
    val correlationId = r.i32()
    val err = r.i16()
    val msgLen = r.i16()
    val msg = if (msgLen < 0) null
      else { val raw = new Array[Byte](msgLen)
        (0 until msgLen).foreach(i => raw(i) = r.i8().toByte)
        new String(raw, "UTF-8") }
    (correlationId, err, msg, r.bytes())
  }

  /** SASL/SCRAM session setup on a fresh connection (KIP-84/KIP-152:
    * SaslHandshake v1 then SCRAM over SaslAuthenticate frames). The
    * SCRAM math is the shared RFC 5802/7677 implementation
    * ([[graft.sources.MongoWire.Scram]]); Kafka salts the RAW password
    * for both mechanisms (no MD5 pre-hash), and the client verifies the
    * broker's server-final signature — mutual auth, same posture as the
    * Mongo seat.
    */
  def saslScramAuthenticate(in: InputStream, out: OutputStream,
      clientId: String, user: String, password: String,
      mechanism: String = "SCRAM-SHA-256", nonce: String = null): Unit = {
    import graft.sources.MongoWire.Scram
    writeFrame(out, saslHandshakeRequest(1, clientId, mechanism))
    val (_, hsErr, enabled) = parseSaslHandshakeResponse(readFrame(in))
    require(hsErr == 0,
      s"kafka: broker refused SASL mechanism $mechanism (enabled: ${enabled.mkString(",")})")
    val cnonce = if (nonce != null) nonce else {
      val b = new Array[Byte](18)
      new java.security.SecureRandom().nextBytes(b)
      java.util.Base64.getEncoder.encodeToString(b)
    }
    val clientFirstBare = s"n=${Scram.saslName(user)},r=$cnonce"
    writeFrame(out, saslAuthenticateRequest(2, clientId,
      s"n,,$clientFirstBare".getBytes("UTF-8")))
    val (_, e1, m1, serverFirstBytes) = parseSaslAuthenticateResponse(readFrame(in))
    require(e1 == 0, s"kafka: SASL authentication failed: $m1")
    val serverFirst = new String(serverFirstBytes, "UTF-8")
    val sf = Scram.attrs(serverFirst)
    val snonce = sf.getOrElse("r", sys.error("kafka: server-first missing r="))
    require(snonce.startsWith(cnonce),
      "kafka: server nonce does not extend the client nonce (MITM?)")
    val salt = java.util.Base64.getDecoder.decode(
      sf.getOrElse("s", sys.error("kafka: server-first missing s=")))
    val iters = sf.getOrElse("i", sys.error("kafka: server-first missing i=")).toInt
    require(iters >= 4096, s"kafka: iteration count $iters below the RFC floor")
    val salted = Scram.saltedPasswordOf(mechanism, password, salt, iters)
    val withoutProof = s"c=biws,r=$snonce"
    val authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
    val proof = java.util.Base64.getEncoder.encodeToString(
      Scram.clientProof(mechanism, salted, authMessage))
    writeFrame(out, saslAuthenticateRequest(3, clientId,
      s"$withoutProof,p=$proof".getBytes("UTF-8")))
    val (_, e2, m2, serverFinalBytes) = parseSaslAuthenticateResponse(readFrame(in))
    require(e2 == 0, s"kafka: SASL authentication failed: $m2")
    val v = Scram.attrs(new String(serverFinalBytes, "UTF-8")).getOrElse("v",
      sys.error("kafka: server-final missing v="))
    require(java.util.Arrays.equals(java.util.Base64.getDecoder.decode(v),
        Scram.serverSignature(mechanism, salted, authMessage)),
      "kafka: SERVER signature mismatch — refusing the session")
  }

  /** Synchronous wire producer: one broker connection, acks awaited per
    * batch — the delivery-report loop the reference runs on sarama's
    * Successes/Errors channels (async_kafka.go:150-226), collapsed to
    * the synchronous micro-batch shape the Spark sink needs (a batch is
    * committed only after its records are acked).
    */
  final class KafkaWireProducer(host: String, port: Int,
      clientId: String = "graft",
      /** 1 = MessageSet v1 over produce v2 (pre-4.x brokers, sarama-era
        * default); 2 = RecordBatch v2 over produce v3 (required by 4.x
        * brokers — KIP-724 dropped the v1 format) */
      batchMagic: Int = 1,
      /** (user, password, mechanism): run SASL/SCRAM before producing —
        * what a security-enabled broker listener requires */
      sasl: Option[(String, String, String)] = None,
      /** TLS from byte zero (a broker SSL/SASL_SSL listener) — the
        * context must trust the broker's certificate; hostname is
        * verified against it */
      tls: Option[javax.net.ssl.SSLContext] = None,
      /** socket read timeout: every producer exchange is
        * request/response, so a stalled broker fails loudly (and the
        * batch retries) instead of wedging the sink's worker. */
      readTimeoutMs: Int = 30000) extends AutoCloseable {
    require(batchMagic == 1 || batchMagic == 2,
      s"kafka: batch magic $batchMagic not supported")
    private var socket: java.net.Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _
    private var correlation = 0

    def connect(): this.type = {
      socket = tls match {
        case Some(ctx) => graft.sources.Tls.clientSocket(ctx, host, port)
        case None => new java.net.Socket(host, port)
      }
      socket.setSoTimeout(readTimeoutMs)
      in = new BufferedInputStream(socket.getInputStream)
      out = new BufferedOutputStream(socket.getOutputStream)
      sasl.foreach { case (u, p, m) =>
        saslScramAuthenticate(in, out, clientId, u, p, m)
      }
      correlation = 10 // past the auth frames' correlation ids
      this
    }

    /** Send one record batch to (topic, partition); returns the broker's
      * base offset. Throws BrokerError on a non-zero error code.
      */
    def produce(topic: String, partition: Int,
        records: Seq[(Array[Byte], Array[Byte])],
        timestampMs: Long = 0L): Long = {
      correlation += 1
      val recordSet =
        if (batchMagic == 2)
          recordBatchAt(records.zipWithIndex.map { case ((k, v), i) =>
            (i.toLong, k, v) }, timestampMs)
        else messageSet(records, timestampMs)
      writeFrame(out, produceRequest(correlation, clientId, topic, partition,
        recordSet, apiVersion = if (batchMagic == 2) 3 else 2))
      val (cid, results) = parseProduceResponse(readFrame(in))
      require(cid == correlation, s"kafka: correlation mismatch ($cid != $correlation)")
      val res = results.headOption.getOrElse(sys.error("kafka: empty produce response"))
      if (res.errorCode != 0) throw BrokerError(res.errorCode)
      res.baseOffset
    }

    def close(): Unit = if (socket != null) socket.close()
  }

  /** Synchronous wire consumer: one broker connection, long-poll fetch
    * from an explicit offset — the input half of the transport (the
    * reference's tidbkafka input consumes through sarama the same way,
    * offset-managed externally; here the offset is the streaming
    * checkpoint's job).
    */
  final class KafkaWireConsumer(host: String, port: Int,
      clientId: String = "graft-consumer",
      /** 2 = sarama-era fetch; 4 = the 4.x-broker floor (KIP-896) with
        * isolation_level and transactional partition headers */
      fetchVersion: Int = 2,
      /** (user, password, mechanism): SASL/SCRAM before fetching */
      sasl: Option[(String, String, String)] = None,
      /** TLS from byte zero (a broker SSL/SASL_SSL listener) */
      tls: Option[javax.net.ssl.SSLContext] = None,
      /** socket read timeout — must exceed poll's max_wait_ms (the
        * broker legitimately holds a caught-up fetch that long); beyond
        * it a silent broker is a fault, not a quiet topic. */
      readTimeoutMs: Int = 30000) extends AutoCloseable {
    private var socket: java.net.Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _
    private var correlation = 0

    def connect(): this.type = {
      socket = tls match {
        case Some(ctx) => graft.sources.Tls.clientSocket(ctx, host, port)
        case None => new java.net.Socket(host, port)
      }
      socket.setSoTimeout(readTimeoutMs)
      in = new BufferedInputStream(socket.getInputStream)
      out = new BufferedOutputStream(socket.getOutputStream)
      sasl.foreach { case (u, p, m) =>
        saslScramAuthenticate(in, out, clientId, u, p, m)
      }
      correlation = 10
      this
    }

    /** One fetch round-trip; returns (highWatermark, records at ≥ offset).
      * Empty records with hw == offset means caught-up (the broker held
      * the request max_wait_ms first).
      */
    def poll(topic: String, partition: Int, offset: Long,
        maxWaitMs: Int = 500, maxBytes: Int = 1 << 20)
        : (Long, Seq[(Long, Array[Byte], Array[Byte])]) = {
      // enforce the documented invariant instead of trusting it: a
      // max_wait_ms at or beyond the socket read timeout would turn a
      // legitimately quiet, caught-up topic into spurious
      // SocketTimeoutExceptions
      require(maxWaitMs < readTimeoutMs,
        s"kafka: poll maxWaitMs=$maxWaitMs must be < readTimeoutMs=$readTimeoutMs " +
          "(the broker legitimately holds a caught-up fetch for max_wait_ms)")
      correlation += 1
      writeFrame(out, fetchRequest(correlation, clientId, topic, partition,
        offset, maxBytes = maxBytes, maxWaitMs = maxWaitMs,
        apiVersion = fetchVersion))
      val (cid, results) = parseFetchResponse(readFrame(in), fetchVersion)
      require(cid == correlation, s"kafka: correlation mismatch ($cid != $correlation)")
      val res = results.headOption.getOrElse(sys.error("kafka: empty fetch response"))
      if (res.errorCode != 0) throw BrokerError(res.errorCode)
      // brokers may resend from an earlier segment boundary: trim < offset
      (res.highWatermark, res.records.filter(_._1 >= offset))
    }

    def close(): Unit = if (socket != null) socket.close()
  }
}

/** Kafka output over the REAL wire producer: ships each compacted
  * batch's [[KafkaJson.records]] frame — the one [[KafkaFileBatchSink]]
  * appends — producing every record to its `__part`, so per-key total
  * order holds across batches on a real broker too. The topic is the
  * configured literal.
  *
  * Topology: the batch is repartitioned on the broker-partition
  * expression and produced from EXECUTORS — one wire connection per
  * task inside `foreachPartition`, the shape [[FileKafkaSink]] and
  * [[JdbcBatchSink]] already use — so a backfill-sized micro-batch
  * never transits the driver. All of one broker partition's rows land
  * in one task (the repartition is deterministic on the partition id),
  * sorted by `seq`, so per-key order within the batch is the task's
  * sequential produce order; the streaming engine serializes batches,
  * and every produce is acked (acks=-1) before `write` returns, so
  * cross-batch order holds too — acks before batch commit. Requests
  * are chunked to bound a single produce frame regardless of batch
  * size.
  */
final class KafkaWireBatchSink(host: String, port: Int, numPartitions: Int,
    topic: String, pkCols: Seq[String],
    payloadColumns: Option[Seq[String]] = None,
    maxRecordsPerRequest: Int = 1000,
    /** 1 = MessageSet v1 / produce v2 (pre-4.x default); 2 =
      * RecordBatch v2 / produce v3 (required by 4.x brokers) */
    batchMagic: Int = 1,
    /** (user, password, mechanism): SASL/SCRAM per executor connection */
    sasl: Option[(String, String, String)] = None,
    /** (truststore path, password): TLS per executor connection. The
      * path must resolve on every executor (ship the store with the
      * job — `--files` — or a shared mount); an SSLContext itself is
      * not serializable, so each task builds its own from the store. */
    tls: Option[(String, String)] = None)
    extends graft.streaming.BatchSink {

  def write(batchId: Long, compacted: org.apache.spark.sql.DataFrame): Unit = {
    val records = KafkaJson.records(compacted, numPartitions,
      pkCols, payloadColumns)
    // closure captures primitives only (the sink itself need not ship)
    val (h, p, t, chunk, magic, auth, tlsStore) =
      (host, port, topic, maxRecordsPerRequest, batchMagic, sasl, tls)
    // real create-time: magic-1 timestamps feed the broker's time-based
    // retention and time-index — 0 would make every segment instantly
    // past any retention window
    val now = System.currentTimeMillis()
    records.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        // client id names the producing task — broker-side attribution
        // that a support engineer reading the request log can use
        val taskId = Option(org.apache.spark.TaskContext.get())
          .map(_.partitionId()).getOrElse(-1)
        val producer = new KafkaWire.KafkaWireProducer(h, p,
          clientId = s"graft-exec-$taskId", batchMagic = magic,
          sasl = auth,
          tls = tlsStore.map { case (path, pw) =>
            graft.sources.Tls.clientContext(path, pw.toCharArray) }).connect()
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Array[Byte], Array[Byte])]
        var cur = -1L
        def flush(): Unit = if (buf.nonEmpty) {
          // a failed ack throws -> task fails -> batch never commits
          producer.produce(t, cur.toInt, buf.toSeq, timestampMs = now)
          buf.clear()
        }
        try {
          it.foreach { r =>
            val part = r.getLong(0)
            if (part != cur) { flush(); cur = part }
            buf += ((r.getString(1).getBytes("UTF-8"),
              r.getString(2).getBytes("UTF-8")))
            if (buf.size >= chunk) flush()
          }
          flush()
        } finally producer.close()
      }
    }
  }
}
