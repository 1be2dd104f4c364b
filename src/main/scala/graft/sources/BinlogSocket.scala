package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The MySQL replication-SOCKET transport — what a live replica
  * actually receives after `COM_BINLOG_DUMP_GTID`, decoded offline
  * from captured network bytes. Every other transport in this engine
  * decodes *files*; a socket delivers the same events wrapped in the
  * MySQL client/server PACKET protocol (public wire format):
  *
  *  - every packet opens with a 4-byte header: payload length
  *    (3-byte LE) + sequence id (1 byte, incrementing mod 256 across
  *    the stream — a skipped id is a dropped packet and refuses);
  *  - one binlog event per packet PAYLOAD, prefixed by a `0x00` OK
  *    byte. A payload of exactly 0xffffff (16 MiB − 1) bytes means
  *    MORE: the next packet continues the same payload, and the
  *    payload ends at the first sub-0xffffff packet — how events
  *    larger than one packet travel (the OK byte rides only the
  *    first fragment, being part of the payload);
  *  - a `0xfe` leader with a sub-9-byte payload is the EOF packet
  *    (non-blocking dump end); a `0xff` leader is an ERR packet —
  *    error code (2 LE), optional `#`-marked 5-byte SQLSTATE, then
  *    the server's error text, REFUSED here quoting that text (the
  *    server said why the dump died; swallowing it would turn a
  *    named failure into silence);
  *  - the stream's FIRST event is the server's ARTIFICIAL ROTATE
  *    (flags bit 0x20) naming the binlog file the dump starts in —
  *    sent BEFORE the FORMAT_DESCRIPTION that declares the checksum
  *    discipline, so it is stripped at this layer (it carries no row
  *    data; its job is the filename, which the decoder does not
  *    need). Everything after it is genuine binlog bytes and flows
  *    UNCHANGED into [[BinlogBinary.decodeEventStream]] — CRC32
  *    verification, TABLE_MAP validation, optional metadata, every
  *    refusal identical to the raw-file path. One type discipline,
  *    one decoder; this layer only removes the network framing.
  *
  * A captured stream must END in an EOF or ERR packet — a capture
  * that just stops is torn (the socket died mid-event) and refuses
  * rather than silently serving a prefix of the change stream.
  *
  * Scale shape: one CAPTURE FILE is the parallelism unit (the same
  * grain as a binlog rotation on the file transports) — `binaryFile`
  * hands each task a whole capture and the frame-strip + decode run
  * inside the task, no cross-file state, no driver collect. The
  * renderer writes genuine packet framing around the shared event
  * builders for fixtures and diagnostics, refusing what the protocol
  * cannot carry rather than corrupting it.
  */
object BinlogSocket {

  private val MaxPayload = 0xffffff // 16 MiB - 1: the continuation mark
  private val ArtificialFlag = 0x20 // LOG_EVENT_ARTIFICIAL_F
  private val RotateType = 4
  private val FdeType = 15

  /** Strip the packet framing from one captured dump stream: header
    * walk + sequence-id continuity + >16 MiB payload reassembly + OK
    * byte strip + EOF/ERR recognition + leading artificial-ROTATE
    * drop. Returns the bare concatenated EVENT bytes (no magic) —
    * exactly what [[BinlogBinary.decodeEventStream]] consumes. */
  private[graft] def depacketize(bytes: Array[Byte],
      path: String, semiSync: Boolean = false): Array[Byte] = {
    var o = 0
    var expectSeq = -1
    var ended = false
    val events = Vector.newBuilder[Array[Byte]]
    while (o < bytes.length) {
      require(!ended,
        s"$path: ${bytes.length - o} byte(s) after the stream's " +
          "EOF/ERR packet — the capture carries trailing garbage; " +
          "corrupt")
      // one logical payload = 1..n packets (continuations at 0xffffff)
      val chunks = Vector.newBuilder[Array[Byte]]
      var more = true
      while (more) {
        require(bytes.length - o >= 4,
          s"$path: truncated packet header at offset $o " +
            s"(${bytes.length - o} trailing bytes) — a torn capture")
        val plen = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
          ((bytes(o + 2) & 0xff) << 16)
        val seq = bytes(o + 3) & 0xff
        if (expectSeq >= 0)
          require(seq == expectSeq,
            s"$path: packet at offset $o carries sequence id $seq, " +
              s"expected $expectSeq — a dropped or reordered packet; " +
              "the capture is not the stream the server sent")
        expectSeq = (seq + 1) % 256
        require(o + 4 + plen <= bytes.length,
          s"$path: packet at offset $o declares $plen payload bytes " +
            s"beyond the capture's ${bytes.length} — a torn capture")
        chunks += java.util.Arrays.copyOfRange(bytes, o + 4,
          o + 4 + plen)
        o += 4 + plen
        more = plen == MaxPayload // continuation rule
      }
      val payload = chunks.result().reduce(_ ++ _)
      require(payload.nonEmpty,
        s"$path: empty packet payload at offset $o — not a binlog " +
          "dump stream")
      (payload(0) & 0xff) match {
        case 0x00 => // OK-prefixed event bytes
          require(payload.length > 1,
            s"$path: OK packet with no event bytes at offset $o — " +
              "corrupt")
          // SEMI-SYNC framing (rpl_semi_sync, declared by the caller
          // — the mode is negotiated per connection, so a capture has
          // it on every event or on none): two extra bytes ride
          // between the OK byte and the event — the 0xef semi-sync
          // magic and the ack-request flag (0/1). The magic is
          // VERIFIED (a capture declared semi-sync whose events lack
          // it is the wrong declaration); the flag is transport
          // bookkeeping the decoder does not need.
          val evStart =
            if (!semiSync) 1
            else {
              require(payload.length > 3,
                s"$path: semi-sync packet at offset $o too short " +
                  "for the 0xef prefix + event bytes — corrupt")
              require((payload(1) & 0xff) == 0xef,
                s"$path: packet at offset $o declared semi-sync but " +
                  "carries 0x" + f"${payload(1) & 0xff}%02x" +
                  " where the 0xef magic belongs — the capture is " +
                  "NOT a semi-sync stream; drop semiSync (or the " +
                  "capture is corrupt)")
              require(payload(2) == 0 || payload(2) == 1,
                s"$path: semi-sync ack flag ${payload(2)} at offset " +
                  s"$o is neither 0 nor 1 — corrupt")
              3
            }
          events += java.util.Arrays.copyOfRange(payload, evStart,
            payload.length)
        case 0xfe if payload.length < 9 => // EOF: clean dump end
          ended = true
        case 0xff => // ERR: the server killed the dump — say why
          val code =
            if (payload.length >= 3)
              (payload(1) & 0xff) | ((payload(2) & 0xff) << 8)
            else 0
          val hasState = payload.length >= 9 && payload(3) == '#'
          val state =
            if (hasState) new String(payload, 4, 5, "UTF-8") else ""
          val msgOff = if (hasState) 9 else 3
          val msg =
            if (payload.length > msgOff)
              new String(payload, msgOff, payload.length - msgOff,
                "UTF-8")
            else ""
          throw new IllegalArgumentException(
            s"$path: the server ended this dump with ERR $code" +
              (if (state.nonEmpty) s" ($state)" else "") +
              s": $msg — fix the server-side cause and re-capture; " +
              "refuse rather than serve the partial stream")
        case other => throw new IllegalArgumentException(
          f"$path: unknown packet leader 0x$other%02x at offset $o " +
            "(0x00 event, 0xfe EOF, 0xff ERR) — not a binlog dump " +
            "stream")
      }
    }
    require(ended,
      s"$path: capture ends without an EOF or ERR packet — the " +
        "socket died mid-stream; re-capture, or decode the server's " +
        "binlog files directly")
    // drop the leading artificial ROTATE(s): sent before the FDE
    // declares the checksum discipline, filename-only content
    val evs = events.result().dropWhile { ev =>
      ev.length >= HeaderLen &&
        (ev(4) & 0xff) == RotateType &&
        (((ev(17) & 0xff) | ((ev(18) & 0xff) << 8)) & ArtificialFlag) != 0
    }
    require(evs.nonEmpty && (evs.head(4) & 0xff) == FdeType,
      s"$path: the dump stream does not open with (artificial " +
        "ROTATE +) FORMAT_DESCRIPTION — a mid-stream capture cannot " +
        "declare its checksum algorithm; re-capture from the dump " +
        "command")
    evs.foldLeft(new java.io.ByteArrayOutputStream()) { (b, ev) =>
      b.write(ev); b
    }.toByteArray
  }

  private val HeaderLen = 19

  /** Decode a directory of captured dump streams into the standard
    * single-table change envelope `(op, seq, ts, cols…)` — the SAME
    * envelope, decoder, and refusals as [[BinlogBinary.parse]], with
    * only the packet framing removed first. Distributed per capture
    * file. */
  def parse(spark: SparkSession, dir: String,
      cols: Seq[(String, DataType)],
      changedCol: Option[String] = None,
      hints: Map[String, BinlogBinary.WireHint] = Map.empty,
      /** Surface the master's type-27 keep-alives as `op = "H"`
        * position-only rows (the `PassSpec(heartbeats = true)`
        * feed) — heartbeats exist ONLY on the socket, which makes
        * this transport their natural source; skipped (the file
        * transports' posture) unless opted in. */
      heartbeats: Boolean = false,
      /** The capture came from a `rpl_semi_sync`-enabled master:
        * every event payload carries the 2-byte `0xef` + ack-flag
        * prefix, stripped (and magic-verified) at the frame layer. */
      semiSync: Boolean = false)
      : DataFrame = {
    BinlogBinary.validateCols(cols, hints)
    val (schema, _) = BinlogText.singleEnvelope(cols, Nil, changedCol,
      textTypes = false)
    val colsB = cols
    val changedB = changedCol
    val hintsB = hints
    val hbB = heartbeats
    val ssB = semiSync
    spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        val path = r.getString(1)
        BinlogBinary.decodeEventStream(
          depacketize(r.getAs[Array[Byte]](0), path, ssB), path, colsB,
          changedCol = changedB, hints = hintsB, heartbeats = hbB)
      }(RowEncoder.encoderFor(schema))
      .toDF()
  }

  /** Decode a directory of captured MULTI-TABLE dump streams into the
    * union envelope `(op, seq, ts, <tableCol>, <union cols…>)` — the
    * socket framing stripped per capture, then
    * [[BinlogBinary.parseMulti]]'s routing rules verbatim (wire
    * table-name dispatch, declared exclusions, undeclared refusals).
    * One transport layer, both topologies. */
  def parseMulti(spark: SparkSession, dir: String,
      colsByTable: Map[String, Seq[(String, DataType)]],
      tableCol: String = "table",
      ignoreTables: Set[String] = Set.empty,
      /** See [[parse]] — the semi-sync 2-byte prefix is a property of
        * the CONNECTION, so every socket entry point must accept the
        * declaration (round-20 ADVICE: a semi-sync capture through
        * this path failed with the misleading non-FDE refusal). */
      semiSync: Boolean = false): DataFrame = {
    val (schema, _) = BinlogText.multiEnvelope(
      colsByTable, tableCol, ignoreTables, None, textTypes = false)
    val colsB = colsByTable
    val ignoreB = ignoreTables
    val ssB = semiSync
    spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        val path = r.getString(1)
        BinlogBinary.decodeMultiEventStream(
          depacketize(r.getAs[Array[Byte]](0), path, ssB), path, schema,
          colsB, ignoreB)
      }(RowEncoder.encoderFor(schema))
      .toDF()
  }

  /** The captured stream as a TXN-GATED envelope —
    * [[BinlogBinary.parseTxn]] from socket bytes: rows stamped with
    * their transaction's GTID through the SAME shared boundary core,
    * one `op = "C"` commit marker per Xid, the framing stripped first.
    * Same two-scan economy: one eager metadata pass for the GTID
    * index (tiny rows to the driver for the broadcast), one lazy
    * distributed decode for rows + markers. */
  def parseTxn(spark: SparkSession, dir: String,
      cols: Seq[(String, DataType)],
      txnCol: String = "txn",
      /** See [[parseMulti]]'s note — connection property, every entry
        * point accepts it. */
      semiSync: Boolean = false): DataFrame = {
    val ssB = semiSync
    require(!cols.exists(_._1 == txnCol) &&
      !Seq("op", "seq", "ts").contains(txnCol),
      s"txn column '$txnCol' collides with an envelope column")
    import org.apache.spark.sql.Encoders
    val gtids = spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        val path = r.getString(1)
        BinlogBinary.extractGtidsFromEvents(
          depacketize(r.getAs[Array[Byte]](0), path, ssB), path)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
        Encoders.scalaLong))
      .collect().toSeq.sortBy(_._1)
    require(gtids.nonEmpty,
      s"captures at $dir carry no GTID events — transactions cannot " +
        "be delimited; consume them as a plain stream instead")
    val stamps = gtids.map { case (p, u, n) => (p, s"$u:$n") }
    val (schema, _) = BinlogText.singleEnvelope(cols, Nil, None,
      textTypes = false)
    val colsB = cols
    val frame = spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        val path = r.getString(1)
        BinlogBinary.decodeEventStream(
          depacketize(r.getAs[Array[Byte]](0), path, ssB), path, colsB,
          emitMarkers = true)
      }(RowEncoder.encoderFor(schema))
      .toDF()
    BinlogText.stampTxns(spark, frame, stamps, txnCol)
  }

  /** Re-frame one raw binlog FILE as the packet capture a dump of it
    * would deliver: artificial ROTATE naming the stream, each of the
    * file's events as an OK packet (sizes read off the event headers
    * — the file's own FDE leads, so the capture self-describes), EOF
    * to close. The fixture bridge from the file renderers to the
    * socket transport. */
  private[graft] def packetizeDumpFile(bytes: Array[Byte],
      streamName: String): Array[Byte] = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xfe &&
      bytes(1) == 'b' && bytes(2) == 'i' && bytes(3) == 'n',
      s"not a binlog file (bad magic) — cannot packetize '$streamName'")
    val out = new java.io.ByteArrayOutputStream()
    var seq = 1
    seq = writePacket(out,
      Array[Byte](0x00) ++ artificialRotate(streamName), seq)
    var o = 4
    while (o < bytes.length) {
      require(bytes.length - o >= HeaderLen,
        s"truncated event header at offset $o of '$streamName'")
      val size = (bytes(o + 9) & 0xff) | ((bytes(o + 10) & 0xff) << 8) |
        ((bytes(o + 11) & 0xff) << 16) | ((bytes(o + 12) & 0xff) << 24)
      require(size >= HeaderLen && o + size <= bytes.length,
        s"event at offset $o of '$streamName' declares size $size " +
          "beyond the file — truncated or corrupt")
      seq = writePacket(out, Array[Byte](0x00) ++
        java.util.Arrays.copyOfRange(bytes, o, o + size), seq)
      o += size
    }
    writePacket(out, Array[Byte](0xfe.toByte, 0, 0, 2, 0), seq)
    out.toByteArray
  }

  /** [[parse]] as a STREAMING decode — the transport behind
    * [[BinlogSocketCdcSource]]: tail `dir` and decode each captured
    * dump stream as it lands, one capture per micro-batch. Each
    * capture is already gated by [[depacketize]]'s OWN end-of-stream
    * rule (EOF/ERR required), so no extra torn-file gate applies —
    * an in-flight capture refuses at the frame layer. `maxFileAge`
    * disabled for the same backfill reason as the file tails. */
  private[sources] def streamDecode(spark: SparkSession, dir: String,
      cols: Seq[(String, DataType)],
      changedCol: Option[String] = None,
      hints: Map[String, BinlogBinary.WireHint] = Map.empty,
      /** See [[parseMulti]]'s note — connection property, every entry
        * point accepts it. */
      semiSync: Boolean = false)
      : DataFrame = {
    BinlogBinary.validateCols(cols, hints)
    val (schema, _) = BinlogText.singleEnvelope(cols, Nil, changedCol,
      textTypes = false)
    val colsB = cols
    val changedB = changedCol
    val hintsB = hints
    val ssB = semiSync
    spark.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("modificationTime", TimestampType, nullable = false),
        StructField("length", LongType, nullable = false),
        StructField("content", BinaryType, nullable = true))))
      .option("maxFilesPerTrigger", "1")
      .option("maxFileAge", "36500d")
      .load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        val path = r.getString(1)
        BinlogBinary.decodeEventStream(
          depacketize(r.getAs[Array[Byte]](0), path, ssB), path, colsB,
          changedCol = changedB, hints = hintsB)
      }(RowEncoder.encoderFor(schema))
      .toDF()
  }

  /** Write one packet (splitting at the 16 MiB − 1 continuation
    * bound) and return the next sequence id. An EXACT-0xffffff-byte
    * payload gets a trailing empty continuation packet — the
    * protocol's own rule, or the reader could not know it ended. */
  private[graft] def writePacket(out: java.io.ByteArrayOutputStream,
      payload: Array[Byte], seq0: Int): Int = {
    var off = 0
    var seq = seq0
    var more = true
    while (more) {
      val n = math.min(MaxPayload, payload.length - off)
      out.write(n & 0xff); out.write((n >> 8) & 0xff)
      out.write((n >> 16) & 0xff)
      out.write(seq & 0xff)
      out.write(payload, off, n)
      off += n
      seq = (seq + 1) % 256
      more = n == MaxPayload
    }
    seq
  }

  /** One event as an OK-prefixed packet sequence; `semiSync` adds
    * the 0xef + ack-flag prefix a semi-sync master sends. */
  private def writeEventPacket(out: java.io.ByteArrayOutputStream,
      event: Array[Byte], seq: Int,
      semiSync: Boolean = false): Int =
    writePacket(out,
      (if (semiSync) Array[Byte](0x00, 0xef.toByte, 1)
       else Array[Byte](0x00)) ++ event, seq)

  private def eofPacket(out: java.io.ByteArrayOutputStream,
      seq: Int): Int =
    // 0xfe + warnings(2) + status flags(2): the classic 5-byte EOF
    writePacket(out, Array[Byte](0xfe.toByte, 0, 0, 2, 0), seq)

  /** An ERR packet capture tail — for fixtures exercising the
    * mid-stream server-kill path. */
  private[graft] def errPacket(code: Int, state: String,
      message: String, seq: Int): Array[Byte] = {
    require(state.length == 5, s"SQLSTATE must be 5 chars: '$state'")
    val out = new java.io.ByteArrayOutputStream()
    val body = Array[Byte](0xff.toByte, (code & 0xff).toByte,
      ((code >> 8) & 0xff).toByte, '#'.toByte) ++
      state.getBytes("UTF-8") ++ message.getBytes("UTF-8")
    writePacket(out, body, seq)
    out.toByteArray
  }

  /** The artificial ROTATE the server opens every dump with: ROTATE
    * payload (8-byte LE position + file name), ARTIFICIAL flag set,
    * no meaningful header position — and NO trustworthy checksum
    * (it precedes the FDE), which is exactly why [[depacketize]]
    * strips it before the decoder sees the stream. */
  private[graft] def artificialRotate(firstFile: String): Array[Byte] = {
    val name = firstFile.getBytes("UTF-8")
    val payload = new java.io.ByteArrayOutputStream()
    var p = 4L
    (0 until 8).foreach { _ =>
      payload.write((p & 0xff).toInt); p >>= 8 }
    payload.write(name)
    val body = payload.toByteArray
    val size = HeaderLen + body.length + 4
    val b = new java.io.ByteArrayOutputStream(size)
    // header: ts=0, type, server_id, size, log_pos=0, ARTIFICIAL flag
    (0 until 4).foreach(_ => b.write(0))
    b.write(RotateType)
    b.write(1); b.write(0); b.write(0); b.write(0)
    b.write(size & 0xff); b.write((size >> 8) & 0xff)
    b.write((size >> 16) & 0xff); b.write((size >> 24) & 0xff)
    (0 until 4).foreach(_ => b.write(0))
    b.write(ArtificialFlag & 0xff); b.write(0)
    b.write(body)
    // a 4-byte checksum slot rides after the body on the wire even
    // pre-FDE (the server pads it); content is irrelevant — the
    // stripper never verifies it
    (0 until 4).foreach(_ => b.write(0))
    b.toByteArray
  }

  /** Render a change-envelope frame as captured packet streams — the
    * fixture/diagnostic inverse of [[parse]], wrapping the SHARED
    * binary event builders ([[BinlogBinary.fdeEvent]] etc.) in
    * genuine network framing: artificial ROTATE first, then the
    * FDE/TABLE_MAP/row events one OK-packet each, an EOF packet to
    * close, sequence ids continuous from 1 (the id the server's
    * first dump packet carries). */
  def renderPacketStream(df: DataFrame, cols: Seq[(String, DataType)],
      outDir: String, files: Int = 4, table: String = "orders",
      prefix: String = "sock",
      hints: Map[String, BinlogBinary.WireHint] = Map.empty,
      /** Interleave a type-27 keep-alive after every `n`-th row
        * packet (plus one trailing pulse before EOF) — the idle-
        * master shape only sockets carry. 0 = none. */
      heartbeatEvery: Int = 0,
      /** Frame every event with the semi-sync 0xef + ack-flag
        * prefix (`rpl_semi_sync_master_enabled` captures). */
      semiSync: Boolean = false): Unit = {
    BinlogBinary.validateCols(cols, hints)
    require(files >= 1, "at least one capture file")
    val dirPath = java.nio.file.Paths.get(outDir)
    if (java.nio.file.Files.exists(dirPath)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dirPath)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(dirPath)
    val colsB = cols
    val tableB = table
    val prefixB = prefix
    val hintsB = hints
    val hbEveryB = heartbeatEvery
    val ssB = semiSync
    val ordered = df.select(
      (Seq(col("op"), col("seq"),
        col("ts").cast(TimestampNTZType).as("ts")) ++
        colsB.map { case (n, _) => col(n) }): _*)
    ordered.repartition(files).foreachPartition {
      (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = new java.io.ByteArrayOutputStream()
        var seq = 1 // the server's first dump packet id
        seq = writeEventPacket(out,
          artificialRotate(f"$prefixB.$pid%06d"), seq, ssB)
        seq = writeEventPacket(out, BinlogBinary.fdeEvent(), seq, ssB)
        seq = writeEventPacket(out,
          BinlogBinary.tableMapEvent(tableB, colsB, hints = hintsB),
          seq, ssB)
        var rowCount = 0
        var lastPos = 4L
        it.foreach { r =>
          seq = writeEventPacket(out,
            BinlogBinary.rowsEvent(r, colsB, hints = hintsB), seq, ssB)
          rowCount += 1
          lastPos = math.max(lastPos, r.getLong(1))
          if (hbEveryB > 0 && rowCount % hbEveryB == 0)
            seq = writeEventPacket(out, BinlogBinary.heartbeatEvent(
              lastPos, 800000000L, f"$prefixB.$pid%06d"), seq, ssB)
        }
        if (hbEveryB > 0) // the idle-tail pulse
          seq = writeEventPacket(out, BinlogBinary.heartbeatEvent(
            lastPos + 1, 800000000L, f"$prefixB.$pid%06d"), seq, ssB)
        eofPacket(out, seq)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, f"$prefixB.$pid%06d.cap"),
          out.toByteArray)
        ()
    }
  }
}
