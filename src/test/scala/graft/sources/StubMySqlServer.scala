package graft.sources

import graft.sources.BinlogWire._

/** A stub MySQL master: speaks HandshakeV10 + mysql_native_password,
  * answers COM_QUERY with OK, and on COM_BINLOG_DUMP streams a canned v4
  * binlog (FDE, ROTATE, QUERY/BEGIN, TABLE_MAP, WRITE/UPDATE/DELETE
  * ROWS v2, XID, EOF). The wire bytes are assembled here on the server
  * side independently of the client's parser — the same stub-peer
  * pattern as EsRestSinkSpec's stub cluster.
  */
final class StubMySqlServer(user: String, password: String,
    events: Seq[Array[Byte]],
    /** extra events appended for the SECOND and later dumps — lets a
      * restart test see the master both replay history and advance */
    moreEvents: Seq[Array[Byte]] = Nil,
    /** auth flavor the master demands: "native" (pre-8.0 default),
      * "sha2-fast" (caching_sha2 with the scramble cached), "sha2-full"
      * (cache miss → RSA public-key exchange over the plaintext
      * channel), or "switch-native" (advertise caching_sha2, then
      * AuthSwitchRequest back to native with a FRESH nonce) */
    authMode: String = "native",
    /** "NONE" streams bare events; "CRC32" appends the 5.6+-default
      * 4-byte CRC32 trailer to every event (and the algorithm byte to
      * the FDE) — the framing a stock master actually serves */
    binlogChecksum: String = "NONE",
    /** server TLS identity: advertise CLIENT_SSL and REQUIRE the
      * client to upgrade (require_secure_transport=ON) — a plaintext
      * HandshakeResponse is refused by closing the connection */
    tls: Option[javax.net.ssl.SSLContext] = None) extends AutoCloseable {

  private val server = new java.net.ServerSocket(0, 1,
    java.net.InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  @volatile var sawChecksumPin = false
  @volatile var authOk = false
  @volatile var sawSslRequest = false
  @volatile var plaintextRefused = 0
  @volatile var sawCleartextFullAuth = false
  @volatile var dumpFile: String = ""
  @volatile var dumpPos: Long = -1L
  @volatile var dumps = 0
  /** the executed set a COM_BINLOG_DUMP_GTID client sent, decoded
    * server-side independently of the client encoder */
  @volatile var dumpGtid: Option[GtidSet] = None

  private val scramble: Array[Byte] =
    (1 to 20).map(_.toByte).toArray // fixed 20-byte nonce

  // accept in a LOOP: a resumed streaming query reconnects and the
  // master replays the canned stream from the requested position —
  // re-dump-on-restart is exactly the real master's behavior
  private val thread = new Thread(() => {
    try while (!server.isClosed) {
      val sock = server.accept()
      // a dropped client must not kill the accept loop — the next
      // (resumed) connection still gets served
      try serve(sock) catch { case _: Exception => () }
      finally { try sock.close() catch { case _: Exception => () } }
    } catch { case _: Exception => () }
  })

  private def serve(sock0: java.net.Socket): Unit = {
    {
      var sock = sock0
      var in: java.io.InputStream = new java.io.BufferedInputStream(sock.getInputStream)
      var out: java.io.OutputStream = new java.io.BufferedOutputStream(sock.getOutputStream)
      // HandshakeV10
      val advertised =
        if (authMode == "native") "mysql_native_password" else "caching_sha2_password"
      val capLow = (CapProtocol41 | CapSecureConnection |
        (if (tls.isDefined) CapSsl else 0L)).toInt & 0xffff
      val hs = new ByteWriter()
        .u8(10).strNul("8.0.0-stub").u32(42L)
        .bytes(scramble.take(8)).u8(0)
        .u16(capLow)
        .u8(33).u16(2)
        .u16((((CapProtocol41 | CapSecureConnection | CapPluginAuth) >> 16) & 0xffff).toInt)
        .u8(21).bytes(new Array[Byte](10))
        .bytes(scramble.drop(8)).u8(0)
        .strNul(advertised)
        .result()
      writePacket(out, 0, hs)
      var (_, resp) = readPacket(in)
      // STARTTLS: a 32-byte SSLRequest (caps with CLIENT_SSL, no user)
      // upgrades the channel; the real HandshakeResponse follows on TLS
      val respCaps = new ByteReader(resp).u32()
      if ((respCaps & CapSsl) != 0 && resp.length == 32) {
        tls match {
          case Some(ctx) =>
            sawSslRequest = true
            // the ClientHello may already sit in the plaintext reader's
            // buffer: hand those bytes to the handshake
            sock = Tls.upgradeServer(ctx, sock, in.readNBytes(in.available()))
            in = new java.io.BufferedInputStream(sock.getInputStream)
            out = new java.io.BufferedOutputStream(sock.getOutputStream)
            resp = readPacket(in)._2
          case None =>
            // client demands TLS from a server without it: hang up
            sock.close(); return
        }
      } else if (tls.isDefined) {
        // require_secure_transport=ON: plaintext credentials refused
        plaintextRefused += 1
        sock.close(); return
      }
      // verify the client's scramble: parse user + auth bytes
      val r = new ByteReader(resp)
      r.u32(); r.u32(); r.u8(); r.bytes(23)
      val gotUser = r.strNul()
      val authLen = r.u8()
      val gotAuth = r.bytes(authLen)
      authOk = gotUser == user && (authMode match {
        case "native" =>
          java.util.Arrays.equals(gotAuth, nativePassword(password, scramble))
        case "sha2-fast" =>
          java.util.Arrays.equals(gotAuth, sha256Password(password, scramble))
        case "sha2-full" => fullAuth(in, out, gotAuth)
        case "switch-native" => switchAuth(in, out)
        case m => throw new IllegalArgumentException(s"stub: unknown authMode $m")
      })
      if (!authOk) {
        writePacket(out, 4, new ByteWriter().u8(0xff).u16(1045)
          .u8('#').str("28000").str("Access denied").result())
        sock.close()
      }
      if (authOk) {
        // the fast path confirms with AuthMoreData 0x03 before its OK —
        // exactly the packet a real 8.0 master emits on a cache hit
        if (authMode == "sha2-fast")
          writePacket(out, 2, Array(0x01.toByte, 0x03.toByte))
        val okSeq = authMode match {
          case "native" => 2; case "sha2-fast" => 3
          case "sha2-full" => 6; case _ => 4
        }
        writePacket(out, okSeq, okPacket())
      }
      // command loop
      var open = authOk
      while (open) {
        val (_, cmd) = try readPacket(in) catch { case _: java.io.EOFException => open = false; (0, Array(0x01.toByte)) }
        if (open) (cmd(0) & 0xff) match {
          case 0x03 => // COM_QUERY
            val sql = new String(cmd, 1, cmd.length - 1, "UTF-8")
            if (sql.contains("master_binlog_checksum")) sawChecksumPin = true
            writePacket(out, 1, okPacket())
          case 0x12 => // COM_BINLOG_DUMP
            val br = new ByteReader(cmd, 1)
            dumpPos = br.u32()
            br.u16(); br.u32()
            dumpFile = br.strEof()
            dumps += 1
            var seq = 1
            val raw = if (dumps > 1) events ++ moreEvents else events
            val stream = binlogChecksum match {
              case "CRC32" => StubBinlog.checksummed(raw)
              case "CRC32-tamper" => // valid framing, one corrupt trailer
                val cs = StubBinlog.checksummed(raw)
                val t = cs.last.clone()
                t(t.length - 1) = (t(t.length - 1) ^ 0x01).toByte
                cs.init :+ t
              case _ => raw
            }
            stream.foreach { ev =>
              writePacket(out, seq, Array(0x00.toByte) ++ ev); seq += 1
            }
            writePacket(out, seq, new ByteWriter().u8(0xfe).u16(0).u16(2).result())
            open = false
          case 0x1e => // COM_BINLOG_DUMP_GTID
            val br = new ByteReader(cmd, 1)
            val flags = br.u16()
            br.u32() // server id
            val fnameLen = br.u32().toInt
            dumpFile = br.strN(fnameLen)
            dumpPos = br.u64()
            if ((flags & BinlogThroughGtid) != 0) {
              val dataLen = br.u32().toInt
              dumpGtid = Some(decodeGtidSet(br.bytes(dataLen)))
            }
            dumps += 1
            var seq = 1
            val raw = if (dumps > 1) events ++ moreEvents else events
            val stream = binlogChecksum match {
              case "CRC32" => StubBinlog.checksummed(raw)
              case "CRC32-tamper" => // valid framing, one corrupt trailer
                val cs = StubBinlog.checksummed(raw)
                val t = cs.last.clone()
                t(t.length - 1) = (t(t.length - 1) ^ 0x01).toByte
                cs.init :+ t
              case _ => raw
            }
            stream.foreach { ev =>
              writePacket(out, seq, Array(0x00.toByte) ++ ev); seq += 1
            }
            writePacket(out, seq, new ByteWriter().u8(0xfe).u16(0).u16(2).result())
            open = false
          case 0x01 => open = false // COM_QUIT
          case other =>
            writePacket(out, 1, new ByteWriter().u8(0xff).u16(1047)
              .u8('#').str("08S01").str(s"unknown command $other").result())
        }
      }
      sock.close()
    }
  }
  thread.setDaemon(true)
  thread.start()

  /** server RSA identity for the caching_sha2 full-auth exchange */
  private lazy val rsaKeys: java.security.KeyPair = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }

  private def publicPem: String = {
    val b64 = java.util.Base64.getMimeEncoder(64, "\n".getBytes("UTF-8"))
      .encodeToString(rsaKeys.getPublic.getEncoded)
    s"-----BEGIN PUBLIC KEY-----\n$b64\n-----END PUBLIC KEY-----\n"
  }

  /** caching_sha2 cache miss: demand full auth, serve the RSA public
    * key on request, decrypt the client's OAEP blob and un-XOR the
    * nonce to recover password+NUL — validating the client's side of
    * the exchange end-to-end, server-side.
    */
  private def fullAuth(in: java.io.InputStream, out: java.io.OutputStream,
      gotAuth: Array[Byte]): Boolean = {
    // the scramble response must still be correct even when the cache
    // misses — a wrong password fails before any RSA round-trip
    if (!java.util.Arrays.equals(gotAuth, sha256Password(password, scramble)))
      return false
    writePacket(out, 2, Array(0x01.toByte, 0x04.toByte))
    val (_, req) = readPacket(in)
    if (tls.isDefined) {
      // on a TLS channel the client answers full auth with the
      // NUL-terminated cleartext password — no RSA round-trip
      sawCleartextFullAuth = true
      return java.util.Arrays.equals(req,
        password.getBytes("UTF-8") :+ 0.toByte)
    }
    if (req.length != 1 || req(0) != 0x02) return false
    writePacket(out, 4, Array(0x01.toByte) ++ publicPem.getBytes("UTF-8"))
    val (_, blob) = readPacket(in)
    val cipher = javax.crypto.Cipher.getInstance("RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    cipher.init(javax.crypto.Cipher.DECRYPT_MODE, rsaKeys.getPrivate)
    val xored = cipher.doFinal(blob)
    val pwd = xored.indices.map(i => (xored(i) ^ scramble(i % scramble.length)).toByte).toArray
    pwd.nonEmpty && pwd.last == 0 &&
      new String(pwd.dropRight(1), "UTF-8") == password
  }

  /** fresh nonce for the AuthSwitchRequest — DIFFERENT from the
    * handshake scramble so a client that lazily reuses the old nonce
    * fails auth */
  private val scramble2: Array[Byte] = (101 to 120).map(_.toByte).toArray

  private def switchAuth(in: java.io.InputStream,
      out: java.io.OutputStream): Boolean = {
    writePacket(out, 2, new ByteWriter().u8(0xfe)
      .strNul("mysql_native_password").bytes(scramble2).u8(0).result())
    val (_, resp2) = readPacket(in)
    java.util.Arrays.equals(resp2, nativePassword(password, scramble2))
  }

  private def okPacket(): Array[Byte] =
    new ByteWriter().u8(0x00).lenenc(0).lenenc(0).u16(2).u16(0).result()

  def close(): Unit = server.close()
}

/** Server-side binlog v4 event encoders for the stub's canned stream. */
object StubBinlog {
  import BinlogWire._

  private var pos = 4L

  private def event(eventType: Int, body: Array[Byte], timestamp: Long = 1700000000L): Array[Byte] = {
    val size = 19L + body.length
    pos += size
    new ByteWriter()
      .u32(timestamp).u8(eventType).u32(99L) // server id
      .u32(size).u32(pos).u16(0)
      .bytes(body)
      .result()
  }

  def fde(): Array[Byte] = event(FORMAT_DESCRIPTION_EVENT,
    new ByteWriter().u16(4).str("8.0.0-stub".padTo(50, '\u0000'))
      .u32(0L).u8(19).bytes(Array.fill[Byte](39)(0)).result())

  /** HEARTBEAT_LOG_EVENT (type 27): the master's idle keepalive — body
    * is just the current binlog file name, and it is NOT data.
    */
  def heartbeat(file: String): Array[Byte] =
    event(HEARTBEAT_EVENT, new ByteWriter().str(file).result())

  /** Re-frame a canned stream the way a binlog_checksum=CRC32 master
    * (the 5.6+ DEFAULT) serves it: every event gains a little-endian
    * CRC32 trailer over header+body, the FDE additionally gains the
    * algorithm byte (1) before its trailer, and eventSize/logPos are
    * rewritten for the growth — built server-side, independent of the
    * client's stripping logic.
    */
  def checksummed(events: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    def readLE32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    def writeLE32(b: Array[Byte], off: Int, v: Long): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
      b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
    }
    var delta = 0L
    events.map { ev =>
      val isFde = (ev(4) & 0xff) == FORMAT_DESCRIPTION_EVENT
      val grown = if (isFde) ev :+ 1.toByte else ev.clone()
      val add = if (isFde) 5 else 4
      delta += add
      // header offsets: eventSize at 9, logPos at 13 (both LE u32)
      writeLE32(grown, 9, readLE32(ev, 9) + add)
      writeLE32(grown, 13, readLE32(ev, 13) + delta)
      val crc = new java.util.zip.CRC32
      crc.update(grown)
      val trailer = new Array[Byte](4)
      writeLE32(trailer, 0, crc.getValue)
      grown ++ trailer
    }
  }

  def rotate(next: String, position: Long): Array[Byte] =
    event(ROTATE_EVENT, new ByteWriter().u64(position).str(next).result())

  def query(db: String, sql: String): Array[Byte] =
    event(QUERY_EVENT, new ByteWriter()
      .u32(7L).u32(0L).u8(db.getBytes("UTF-8").length).u16(0).u16(0)
      .str(db).u8(0).str(sql).result())

  def xid(id: Long): Array[Byte] =
    event(XID_EVENT, new ByteWriter().u64(id).result())

  def gtid(uuid: String, gno: Long): Array[Byte] =
    event(GTID_EVENT, new ByteWriter()
      .u8(1).bytes(uuidBytes(uuid)).u64(gno).result())

  /** columns: (typeId, meta, nullable) */
  def tableMap(tableId: Long, db: String, table: String,
      columns: Seq[(Int, Int, Boolean)]): Array[Byte] = {
    val w = new ByteWriter()
      .u48(tableId).u16(1)
      .u8(db.getBytes("UTF-8").length).str(db).u8(0)
      .u8(table.getBytes("UTF-8").length).str(table).u8(0)
      .lenenc(columns.size.toLong)
    columns.foreach { case (t, _, _) => w.u8(t) }
    val metaW = new ByteWriter()
    columns.foreach { case (t, m, _) =>
      t match {
        case 15 | 253 => metaW.u16(m)
        case 254 => metaW.u8((m >> 8) & 0xff).u8(m & 0xff)
        case 252 | 245 | 255 | 4 | 5 => metaW.u8(m)
        case 16 => metaW.u8(m & 0xff).u8((m >> 8) & 0xff) // bits%8, bits/8
        case _ => ()
      }
    }
    val meta = metaW.result()
    w.lenenc(meta.length.toLong).bytes(meta)
    val nullBm = new Array[Byte]((columns.size + 7) / 8)
    columns.zipWithIndex.foreach { case ((_, _, n), i) =>
      if (n) nullBm(i / 8) = (nullBm(i / 8) | (1 << (i % 8))).toByte
    }
    w.bytes(nullBm)
    event(TABLE_MAP_EVENT, w.result())
  }

  /** Encode one row image given (typeId, meta) and values (null allowed). */
  private def rowImage(columns: Seq[(Int, Int)], values: Seq[Any]): Array[Byte] = {
    val w = new ByteWriter()
    val nullBm = new Array[Byte]((values.size + 7) / 8)
    values.zipWithIndex.foreach { case (v, i) =>
      if (v == null) nullBm(i / 8) = (nullBm(i / 8) | (1 << (i % 8))).toByte
    }
    w.bytes(nullBm)
    columns.zip(values).foreach {
      case (_, null) => ()
      case ((1, _), v: Int) => w.u8(v)
      case ((2, _), v: Int) => w.u16(v)
      case ((3, _), v: Int) => w.u32(v.toLong & 0xffffffffL)
      case ((8, _), v: Long) => w.u64(v)
      case ((4, _), v: Float) => w.u32(java.lang.Float.floatToIntBits(v).toLong & 0xffffffffL)
      case ((5, _), v: Double) => w.u64(java.lang.Double.doubleToLongBits(v))
      case ((10, _), v: java.time.LocalDate) =>
        w.u24(v.getDayOfMonth | (v.getMonthValue << 5) | (v.getYear << 9))
      case ((15 | 253, m), v: String) =>
        val b = v.getBytes("UTF-8")
        if (m < 256) w.u8(b.length) else w.u16(b.length)
        w.bytes(b)
      case ((254, m), v: Int) if ((m >> 8) & 0xff) == 247 => // ENUM index
        if ((m & 0xff) == 1) w.u8(v) else w.u16(v)
      case ((254, m), v: Long) if ((m >> 8) & 0xff) == 248 => // SET bitmask
        var x = v; var i = 0
        while (i < (m & 0xff)) { w.u8((x & 0xff).toInt); x >>= 8; i += 1 }
      case ((254, _), v: String) =>
        val b = v.getBytes("UTF-8"); w.u8(b.length).bytes(b)
      case ((16, m), v: Long) => // BIT: BE-packed (nbits+7)/8 bytes
        val nbits = ((m >> 8) & 0xff) * 8 + (m & 0xff)
        val nb = (nbits + 7) / 8
        var i = nb - 1
        while (i >= 0) { w.u8(((v >> (8 * i)) & 0xff).toInt); i -= 1 }
      case ((7, _), v: java.time.Instant) => w.u32(v.getEpochSecond)
      case ((12, _), v: java.time.LocalDateTime) =>
        w.u64(((v.getYear * 10000L + v.getMonthValue * 100L + v.getDayOfMonth) * 1000000L)
          + v.getHour * 10000L + v.getMinute * 100L + v.getSecond)
      case ((11, _), v: Int) => w.u24(v) // HHMMSS
      case ((252 | 245 | 255, m), v: Array[Byte]) =>
        var i = 0; var len = v.length.toLong
        while (i < m) { w.u8((len & 0xff).toInt); len >>= 8; i += 1 }
        w.bytes(v)
      case ((t, _), v) => sys.error(s"stub encoder: no encoding for type $t value $v")
    }
    w.result()
  }

  def writeRows(tableId: Long, columns: Seq[(Int, Int)],
      rows: Seq[Seq[Any]]): Array[Byte] =
    rowsEvent(WRITE_ROWS_V2, tableId, columns, rows.map(r => (None, r)))

  def deleteRows(tableId: Long, columns: Seq[(Int, Int)],
      rows: Seq[Seq[Any]]): Array[Byte] =
    rowsEvent(DELETE_ROWS_V2, tableId, columns, rows.map(r => (None, r)))

  def updateRows(tableId: Long, columns: Seq[(Int, Int)],
      rows: Seq[(Seq[Any], Seq[Any])]): Array[Byte] =
    rowsEvent(UPDATE_ROWS_V2, tableId, columns, rows.map { case (b, a) => (Some(b), a) })

  private def rowsEvent(t: Int, tableId: Long, columns: Seq[(Int, Int)],
      rows: Seq[(Option[Seq[Any]], Seq[Any])]): Array[Byte] = {
    val w = new ByteWriter()
      .u48(tableId).u16(1)
      .u16(2) // v2 extra-data length (just the length field itself)
      .lenenc(columns.size.toLong)
    val present = Array.fill[Byte]((columns.size + 7) / 8)(0)
    columns.indices.foreach(i => present(i / 8) = (present(i / 8) | (1 << (i % 8))).toByte)
    w.bytes(present)
    if (t == UPDATE_ROWS_V2) w.bytes(present)
    rows.foreach { case (before, after) =>
      before.foreach(b => w.bytes(rowImage(columns, b)))
      w.bytes(rowImage(columns, after))
    }
    event(t, w.result())
  }
}
