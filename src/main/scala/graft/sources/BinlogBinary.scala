package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The MySQL binlog BINARY wire format as a CDC transport — the raw
  * bytes a server writes to `binlog.000NNN`, decoded straight into the
  * same change-event envelope [[BinlogText.parse]] fills from the
  * `mysqlbinlog --verbose` text rendering. Format knowledge is the
  * public binlog v4 event layout:
  *
  *  - file = 4-byte magic `\xfe bin` + a stream of events;
  *  - every event opens with the 19-byte v4 common header
  *    `timestamp(4 LE) type(1) server_id(4 LE) event_size(4 LE)
  *    log_pos(4 LE) flags(2 LE)`;
  *  - the first event is the FORMAT_DESCRIPTION (type 15) declaring
  *    binlog_version 4, the 19-byte header, and (5.6+) the trailing
  *    checksum algorithm byte;
  *  - TABLE_MAP (type 19) names the table and declares its columns'
  *    wire types + metadata — the decoder for every row event that
  *    follows under the same table id;
  *  - WRITE/UPDATE/DELETE_ROWS v2 (types 30/31/32) carry the row
  *    images: a columns-present bitmap, then per row a null bitmap
  *    and the present non-null values in TABLE_MAP order. UPDATE
  *    rows come as (before, after) image PAIRS; the AFTER image is
  *    what replicates (the same rule as the text path's SET block),
  *    DELETE carries the before image (the text path's WHERE);
  *  - when the FDE declares CRC32 checksums, every event's last 4
  *    bytes are the CRC32 of the rest of the event — verified here,
  *    refused loudly on mismatch (a silently mis-decoded event is a
  *    silently diverged replica).
  *
  * Envelope semantics mirror [[BinlogText]] exactly: `op` I/U/D, `seq`
  * = the event's log position, `ts` = the header clock (second-granular
  * by format), payload columns positional against the caller's declared
  * column list — which the parsed TABLE_MAP is VALIDATED against
  * (arity and per-position type family), so a drifted declaration
  * refuses instead of mis-decoding. Non-row events a real binlog
  * interleaves (Query, Xid, Gtid, Rotate, Stop) checksum-verify and
  * skip, exactly like the text parser skips their rendered blocks.
  *
  * Scale shape: one binlog FILE is the parallelism unit (a rotation
  * boundary, the same unit a fleet tails) — `binaryFile` hands each
  * task whole files and the decode runs inside the task, no cross-file
  * state, no driver collect. The renderer exists for fixtures and
  * diagnostics (the [[BinlogText.render]] pattern): it writes
  * checksummed, FDE-led, TABLE_MAP-prefixed rotation files and refuses
  * what the format cannot carry (sub-second timestamps, positions or
  * clocks beyond 32 bits, strings over 65535 bytes) rather than
  * silently corrupting them. Update fixtures carry before == after
  * image (FULL-image shape; the strict-before machinery is exercised
  * on the text path).
  */
object BinlogBinary {

  private val Magic = Array[Byte](0xfe.toByte, 'b', 'i', 'n')
  private val HeaderLen = 19

  // event type codes (public binlog v4 numbering)
  private val QUERY = 2
  private val STOP = 3
  private val ROTATE = 4
  private val FORMAT_DESCRIPTION = 15
  private val XID = 16
  private val TABLE_MAP = 19
  private val WRITE_ROWS_V2 = 30
  private val UPDATE_ROWS_V2 = 31
  private val DELETE_ROWS_V2 = 32
  private val GTID = 33
  private val HEARTBEAT = 27 // master keep-alive (socket streams only)
  private val ROWS_QUERY = 29 // binlog_rows_query_log_events=ON audit SQL
  private val PARTIAL_UPDATE_ROWS = 39 // binlog_row_value_options=PARTIAL_JSON
  private val TRANSACTION_PAYLOAD = 40 // binlog_transaction_compression
  private val ANNOTATE_ROWS_MARIA = 160 // statement text audit (Maria)
  private val GTID_MARIA = 162 // MariaDB per-transaction GTID stamp
  private val QUERY_COMPRESSED_MARIA = 165 // zlib statement text (10.2+)
  private val WRITE_ROWS_COMPRESSED_MARIA = 166 // zlib per-event (10.2+)
  private val UPDATE_ROWS_COMPRESSED_MARIA = 167
  private val DELETE_ROWS_COMPRESSED_MARIA = 168
  private val GTID_LIST_MARIA = 163 // MariaDB rotation-head executed state
  private val START_ENCRYPTION_MARIA = 164 // MariaDB binlog_encryption=ON

  // wire column type codes (the public MYSQL_TYPE numbering)
  private val T_TINY = 1 // TINYINT: 1 byte signed
  private val T_SHORT = 2 // SMALLINT: 2-byte LE
  private val T_LONG = 3 // INT: 4-byte LE
  private val T_FLOAT = 4
  private val T_DOUBLE = 5
  private val T_LONGLONG = 8 // BIGINT: 8-byte LE
  private val T_INT24 = 9 // MEDIUMINT: 3-byte LE signed
  private val T_DATE = 10 // 3-byte LE packed y/m/d
  private val T_YEAR = 13 // 1 byte, value = year - 1900 (0 = 0000)
  private val T_NEWDATE = 14 // 5.x alias of DATE; same 3-byte packing
  private val T_VARCHAR = 15
  private val T_BIT = 16 // big-endian value in ceil(bits/8) bytes
  private val T_TIMESTAMP2 = 17 // 4-byte BE epoch seconds + fsp frac
  private val T_DATETIME2 = 18 // 5-byte BE packed wall clock + fsp frac
  private val T_TIME2 = 19 // 3-byte BE packed h/m/s + fsp frac
  private val T_JSON = 245 // length-prefixed binary JSON document
  private val T_NEWDECIMAL = 246
  private val T_ENUM = 247 // rides TABLE_MAP as STRING + meta byte
  private val T_SET = 248 // rides TABLE_MAP as STRING + meta byte
  private val T_BLOB = 252 // length-prefixed raw bytes
  private val T_VAR_STRING = 253 // pre-5.0 alias; same wire shape
  private val T_STRING = 254 // CHAR; also the ENUM/SET carrier
  private val T_GEOMETRY = 255 // length-prefixed SRID+WKB bytes

  /** Per-column WIRE HINTS — the declaration surface for MySQL types a
    * Spark `DataType` alone cannot imply. The DECODE side is wire-
    * driven (the TABLE_MAP names the true type and its metadata); a
    * hint is required at decode only where the wire underdetermines
    * the decode — an ENUM's value list lives in the table's DDL, not
    * on the wire, and a DATE/DATETIME column decoding to its RAW TEXT
    * form (the zero-date-capable surface [[graft.sources.MySqlTypes]]
    * post-processes) is a caller's choice, not a wire fact. The
    * RENDER side needs the hint wherever one Spark type maps to
    * several wire types (StringType → VARCHAR/ENUM/JSON/CHAR,
    * LongType → BIGINT/SET/BIT, …). */
  sealed trait WireHint
  object WireHint {
    /** MySQL ENUM: the wire carries a 1-or-2-byte 1-based index into
      * the DDL's value list (0 = the invalid-value empty string). */
    final case class Enum(values: Seq[String]) extends WireHint
    /** MySQL SET with `members` declared members: the wire carries
      * the member BITMASK little-endian in ceil(members/8) bytes —
      * surfaced as the Long mask (decode member names downstream via
      * [[MySqlTypes.decodeSet]], the text transport's own shape). */
    final case class SetBits(members: Int) extends WireHint
    /** MySQL BIT(bits): big-endian value, surfaced as Long. */
    final case class Bit(bits: Int) extends WireHint
    /** MySQL YEAR on a ShortType column (1901..2155 + zero). */
    case object Year extends WireHint
    /** MySQL JSON on a StringType column: binary documents decode to
      * compact text ([[MySqlJsonb]]); render parses the text back. */
    case object Json extends WireHint
    /** MySQL TIME on an IntegerType column under the seconds-since-
      * midnight Int32 mapping (the type surface's TIME rule). */
    case object TimeSeconds extends WireHint
    /** MySQL MEDIUMINT (3-byte signed) on an IntegerType column. */
    case object MediumInt extends WireHint
    /** A text column whose BYTES pass through raw (BinaryType over
      * the VARCHAR wire) — the charset-transcode surface: the binlog
      * ships the column's own encoding (latin1, …) and the pipeline
      * transcodes at apply via [[MySqlTypes.decodeText]]. */
    case object RawText extends WireHint
    /** MySQL CHAR(n) (wire type STRING) on a StringType column;
      * `maxLen` is the column's byte capacity (≤ 255 here). */
    final case class Char(maxLen: Int) extends WireHint
    /** A DATE column decoding to its RAW TEXT form (`yyyy-MM-dd`,
      * zero dates as `0000-00-00`) on a StringType column — the
      * zero-date-capable surface [[MySqlTypes.zeroDateToNull]] then
      * nulls at apply. */
    case object DateText extends WireHint
    /** A DATETIME(0) column decoding to its RAW TEXT form
      * (`yyyy-MM-dd HH:mm:ss`, zero as `0000-00-00 00:00:00`). */
    case object DateTimeText extends WireHint
    /** A raw-bytes column (BinaryType) whose wire VARCHAR carries
      * the given MySQL COLLATION id in the TABLE_MAP's charset
      * metadata — the renderer's way to write a non-utf8 text column
      * (latin1 = 8); a decoder declaring StringType then transcodes
      * from the metadata with NO hint. */
    final case class Charset(mysqlCollationId: Int) extends WireHint
    /** A MySQL TEXT column (wire type BLOB with a charset) on a
      * StringType column — length-prefixed bytes decoded through the
      * column's charset metadata (UTF-8 when absent). */
    case object Text extends WireHint
    /** An UNSIGNED MySQL integer column, declared as the NEXT-WIDER
      * Spark type that can hold its range: `TINYINT UNSIGNED` →
      * ShortType, `SMALLINT UNSIGNED` → IntegerType, `INT UNSIGNED`
      * → LongType, `BIGINT UNSIGNED` → DecimalType(20, 0) (2^64−1
      * does not fit a signed long — the parquet/Spark UINT64
      * convention). The render side sets the TABLE_MAP's SIGNEDNESS
      * optional-metadata bit; the decode side is metadata-driven and
      * needs no hint. */
    case object Unsigned extends WireHint
    /** MySQL SET with a DECLARED member list on a LongType render
      * column: the renderer writes the bitmask AND the TABLE_MAP's
      * SET_STR_VALUE optional metadata (TLV 5), making the dump
      * self-describing — a decoder then declares the SAME column
      * StringType with NO hint and reads MySQL's own comma-joined
      * member text straight off the wire. */
    final case class SetNamed(values: Seq[String]) extends WireHint
    /** A MySQL GEOMETRY column (wire type 255) on a BinaryType
      * column: the value is the 4-byte SRID + WKB bytes, passed
      * through VERBATIM (decode-as-passthrough is the honest
      * surface — spatial semantics live downstream; a StringType
      * declaration refuses by name because WKB has no text
      * reading). The render side is the inverse: raw SRID+WKB bytes
      * under a 4-byte length prefix. */
    case object Geometry extends WireHint
  }

  /** Decode a directory of raw binlog files into the envelope
    * `(op, seq, ts, <cols…>)` — the SAME schema [[BinlogText.parse]]
    * produces for the same column list, so every downstream pass is
    * transport-agnostic. Distributed per FILE. */
  def parse(spark: SparkSession, dir: String,
      cols: Seq[(String, DataType)],
      changedCol: Option[String] = None,
      hints: Map[String, WireHint] = Map.empty,
      rowsQueryCol: Option[String] = None): DataFrame = {
    validateCols(cols, hints)
    rowsQueryCol.foreach { rq =>
      require(!cols.exists(_._1 == rq) &&
        !Seq("op", "seq", "ts").contains(rq) &&
        !changedCol.contains(rq),
        s"rows-query column '$rq' collides with an envelope column")
    }
    val (base, _) = BinlogText.singleEnvelope(cols, Nil, changedCol,
      textTypes = false)
    // the ROWS_QUERY audit surface (binlog_rows_query_log_events=ON):
    // each row event's ORIGINAL statement text, NULL when the dump
    // carries no type-29 events or between statements — declared
    // opt-in like heartbeats, invisible to passes that don't ask
    val schema = rowsQueryCol.fold(base)(rq => StructType(
      base.fields :+ StructField(rq, StringType, nullable = true)))
    val colsB = cols
    val changedB = changedCol
    val hintsB = hints
    val rqB = rowsQueryCol
    spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        decodeFile(r.getAs[Array[Byte]](0), r.getString(1), colsB,
          changedCol = changedB, hints = hintsB, rowsQueryCol = rqB)
      }(RowEncoder.encoderFor(schema))
      .toDF()
  }

  /** Decode a MULTI-TABLE raw dump: one rotated binlog dir whose
    * TABLE_MAP events name different tables, dispatched on the table
    * name each map carries ON THE WIRE (the binary format's native
    * dispatch key) into the SAME union envelope
    * `(op, seq, ts, <tableCol>, <union cols…>)` as
    * [[BinlogText.parseMulti]] — one decode contract, two transports.
    * Tables in `ignoreTables` skip with ZERO row-body work (events are
    * size-addressed); a table in neither map refuses loudly at its
    * TABLE_MAP — decoding positional values without a declared plan
    * would be guessing, and silently dropping an undeclared table's
    * events is the silently-diverged-replica class. Distributed per
    * FILE like [[parse]]. */
  def parseMulti(spark: SparkSession, dir: String,
      colsByTable: Map[String, Seq[(String, DataType)]],
      tableCol: String = "table",
      ignoreTables: Set[String] = Set.empty,
      changedCol: Option[String] = None,
      hintsByTable: Map[String, Map[String, WireHint]] = Map.empty)
      : DataFrame = {
    validateMultiHints(colsByTable, hintsByTable)
    val (schema, _) = BinlogText.multiEnvelope(
      colsByTable, tableCol, ignoreTables, changedCol,
      textTypes = false)
    multiFrame(spark, dir, schema, colsByTable, ignoreTables,
      marker = false, changedCol = changedCol,
      hintsByTable = hintsByTable)
  }

  /** Per-table hint validation for the multi-table surfaces: every
    * hinted table must be declared, every hint valid for its table's
    * column list. */
  private def validateMultiHints(
      colsByTable: Map[String, Seq[(String, DataType)]],
      hintsByTable: Map[String, Map[String, WireHint]]): Unit =
    hintsByTable.foreach { case (t, hints) =>
      val cols = colsByTable.getOrElse(t,
        throw new IllegalArgumentException(
          s"wire hints declared for table '$t', which is not in " +
            "colsByTable"))
      validateCols(cols, hints)
    }

  /** [[parseTxn]] over a MULTI-TABLE raw dump — cross-table
    * transactions straight from wire bytes: rows dispatch per table,
    * GTID events stamp them, each Xid surfaces as ONE topology-level
    * `op = "C"` marker (its `tableCol` reads the `_ctl` placeholder,
    * exactly [[BinlogText.parseMultiTxn]]'s shape), so no table
    * applies any slice of a transaction until its commit arrives and
    * an uncommitted trailing transaction holds back across the whole
    * topology. Same two-scan economy as the text path: one eager
    * metadata pass for the GTID index, one lazy pass decoding rows
    * and markers together. */
  def parseMultiTxn(spark: SparkSession, dir: String,
      colsByTable: Map[String, Seq[(String, DataType)]],
      tableCol: String = "table",
      txnCol: String = "txn",
      ignoreTables: Set[String] = Set.empty,
      hintsByTable: Map[String, Map[String, WireHint]] = Map.empty)
      : DataFrame = {
    require(!colsByTable.values.exists(_.exists(_._1 == txnCol)) &&
      !Seq("op", "seq", "ts", tableCol).contains(txnCol),
      s"txn column '$txnCol' collides with an envelope column")
    validateMultiHints(colsByTable, hintsByTable)
    val gtids = parseGtidIndex(spark, dir)
    require(gtids.nonEmpty,
      s"dump at $dir carries no GTID events — transactions cannot be " +
        "delimited; consume it as a plain stream instead")
    val stamps = gtids.map { case (p, u, n) => (p, s"$u:$n") }
    val (schema, _) =
      BinlogText.multiEnvelope(colsByTable, tableCol, ignoreTables,
        None, textTypes = false)
    val frame = multiFrame(spark, dir, schema, colsByTable, ignoreTables,
      marker = true, hintsByTable = hintsByTable)
    BinlogText.stampTxns(spark, frame, stamps, txnCol)
  }

  /** The multi-table decode frame behind [[parseMulti]] and
    * [[parseMultiTxn]]: per-table routing + union-slot placement over
    * [[decodeFileRouted]]. `schema` is [[BinlogText.multiEnvelope]]'s
    * (op, seq, ts, tableCol, union cols…) — its field order IS the
    * slot map, so both transports fill identical frames. */
  private def multiFrame(spark: SparkSession, dir: String,
      schema: StructType,
      colsByTable: Map[String, Seq[(String, DataType)]],
      ignoreTables: Set[String], marker: Boolean,
      changedCol: Option[String] = None,
      hintsByTable: Map[String, Map[String, WireHint]] = Map.empty)
      : DataFrame =
    multiDecode(spark.read.format("binaryFile").load(dir),
      schema, colsByTable, ignoreTables, marker, requireRotate = false,
      changedCol = changedCol, hintsByTable = hintsByTable)

  /** [[parseMulti]] as a STREAMING decode — the transport behind
    * [[BinlogBinaryMultiCdcSource]]: tail `dir` and decode each raw
    * multi-table rotation as it lands, one file per micro-batch.
    * `maxFileAge` disabled for the same backfill reason as the
    * single-table tail. */
  private[sources] def streamDecodeMulti(spark: SparkSession,
      dir: String, schema: StructType,
      colsByTable: Map[String, Seq[(String, DataType)]],
      ignoreTables: Set[String], requireRotate: Boolean,
      changedCol: Option[String] = None,
      hintsByTable: Map[String, Map[String, WireHint]] = Map.empty)
      : DataFrame =
    multiDecode(rawStream(spark, dir),
      schema, colsByTable, ignoreTables, marker = false, requireRotate,
      changedCol = changedCol, hintsByTable = hintsByTable)

  /** The tailed raw-rotation stream shared by the single- and
    * multi-table streaming decodes: one file per micro-batch (the
    * tail's natural arrival unit), the binaryFile source's FIXED
    * schema declared explicitly (streaming sources get no inference
    * pass), and `maxFileAge` disabled — the default 7-day window
    * would silently skip a backfilled rotation restored with its
    * original mtime. */
  private def rawStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("modificationTime", TimestampType, nullable = false),
        StructField("length", LongType, nullable = false),
        StructField("content", BinaryType, nullable = true))))
      .option("maxFilesPerTrigger", "1")
      .option("maxFileAge", "36500d")
      .load(dir)

  /** The routing/slotting decode shared by the batch and streaming
    * multi-table reads — `raw` is any (content, path)-bearing frame. */
  private def multiDecode(raw: DataFrame, schema: StructType,
      colsByTable: Map[String, Seq[(String, DataType)]],
      ignoreTables: Set[String], marker: Boolean,
      requireRotate: Boolean,
      changedCol: Option[String] = None,
      hintsByTable: Map[String, Map[String, WireHint]] = Map.empty)
      : DataFrame = {
    val colsB = colsByTable
    val ignoreB = ignoreTables
    val rotateB = requireRotate
    val markerB = marker
    val schemaB = schema
    val changedB = changedCol
    val hintsB = hintsByTable
    raw.select(col("content"), col("path"))
      .flatMap { r =>
        decodeMultiFileBytes(r.getAs[Array[Byte]](0), r.getString(1),
          schemaB, colsB, ignoreB, markerB, rotateB, changedB, hintsB)
      }(RowEncoder.encoderFor(schema))
      .toDF()
  }

  /** One FILE's multi-table decode: routing by wire table name +
    * union-slot placement. Shared by [[multiDecode]] (raw files) and
    * the non-verbose text transport
    * ([[BinlogText.parseMultiNonVerbose]]), which hands base64-decoded
    * event bytes through [[decodeMultiEventStream]]. */
  private[sources] def decodeMultiFileBytes(bytes: Array[Byte],
      path: String, schema: StructType,
      colsByTable: Map[String, Seq[(String, DataType)]],
      ignoreTables: Set[String], marker: Boolean,
      requireRotate: Boolean,
      changedCol: Option[String] = None,
      hintsByTable: Map[String, Map[String, WireHint]] = Map.empty)
      : Iterator[Row] = {
    // union slots = the fields after (op, seq, ts, tableCol), minus
    // the trailing changed-list column when the MINIMAL surface is on
    val slot = schema.fieldNames.drop(4)
      .dropRight(if (changedCol.isDefined) 1 else 0)
      .zipWithIndex.toMap
    val slotsByTable = colsByTable.map { case (t, cols) =>
      t -> cols.map { case (n, _) => slot(n) }.toArray
    }
    val width = slot.size
    val emitMarker =
      if (marker)
        // topology-level commit marker: `_ctl`, never a state table
        Some((p: Long, t: java.time.LocalDateTime) => Row.fromSeq(
          Seq("C", p, t, "_ctl") ++ Seq.fill[Any](width)(null) ++
            changedCol.map(_ => null)))
      else None
    decodeFileRouted(bytes, path,
      route = t => colsByTable.get(t) match {
        case Some(cols) => DecodeAs(cols, s" for table '$t'",
          hintsByTable.getOrElse(t, Map.empty))
        case None if ignoreTables.contains(t) => SkipTable
        case None => throw new IllegalArgumentException(
          s"$path: TABLE_MAP names table '$t', which is neither " +
            "declared (colsByTable) nor excluded (ignoreTables) — " +
            "decoding its positional values without a TABLE_MAP " +
            "declaration would be guessing; declare or exclude it")
      },
      emit = (t, op, p, time, vals, changed, _) => {
        val arr = new Array[Any](width)
        val slots = slotsByTable(t)
        vals.zipWithIndex.foreach { case (v, i) => arr(slots(i)) = v }
        Row.fromSeq(Seq(op, p, time, t) ++ arr ++
          changedCol.map(_ => changed))
      },
      marker = emitMarker,
      requireRotate = requireRotate,
      minimal = changedCol.isDefined)
  }

  /** [[decodeEventStream]] for the MULTI-TABLE union envelope: bare
    * event bytes (no magic) → routed decode. */
  private[sources] def decodeMultiEventStream(eventBytes: Array[Byte],
      path: String, schema: StructType,
      colsByTable: Map[String, Seq[(String, DataType)]],
      ignoreTables: Set[String],
      changedCol: Option[String] = None,
      hintsByTable: Map[String, Map[String, WireHint]] = Map.empty)
      : Iterator[Row] =
    decodeMultiFileBytes(Magic ++ eventBytes, path, schema,
      colsByTable, ignoreTables, marker = false, requireRotate = false,
      changedCol = changedCol, hintsByTable = hintsByTable)

  // ── rendering (fixtures/diagnostics) ─────────────────────────────

  /** Render an envelope frame as binary binlog rotation files under
    * `outDir` — `files` output files, each self-contained (magic, FDE
    * declaring CRC32 checksums, one TABLE_MAP, then one checksummed
    * row event per envelope row). Refuses values the format cannot
    * carry, like the text renderer. Local-filesystem fixture writer:
    * each task writes its own rotation file. Multi-table dumps render
    * per table into one dir — `append = true` with a per-table
    * `prefix` so rotation file names never collide — and
    * [[parseMulti]] dispatches the TABLE_MAPs back. */
  def render(df: DataFrame, cols: Seq[(String, DataType)],
      outDir: String, files: Int = 4, table: String = "orders",
      prefix: String = "bin", append: Boolean = false,
      hints: Map[String, WireHint] = Map.empty,
      pk: Seq[String] = Seq.empty,
      enumSetCharset: Option[Int] = None,
      rowsQuery: Boolean = false): Unit = {
    validateCols(cols, hints)
    validateTableName(table)
    require(files >= 1, "at least one binlog file")
    require(prefix.nonEmpty && !prefix.exists(c =>
      c.isWhitespace || c == '/' || c == '\\'),
      s"bad rotation file prefix '$prefix'")
    val dirPath = java.nio.file.Paths.get(outDir)
    // append composes multi-table dirs; a REUSED prefix would
    // truncate-replace the earlier table's rotation files with no
    // error — refuse the collision up front instead
    if (append && java.nio.file.Files.exists(dirPath)) {
      // exists-but-a-regular-file would make listFiles() return null —
      // a bare NPE instead of the refusal this guard owes the caller
      require(java.nio.file.Files.isDirectory(dirPath),
        s"append target $outDir exists but is not a directory — " +
          "point the render at the rotation directory itself")
      val clash = dirPath.toFile.listFiles()
        .exists(_.getName.startsWith(s"$prefix."))
      require(!clash,
        s"append into $outDir would overwrite existing '$prefix.*' " +
          "rotation files — give each appended render its own prefix")
    }
    if (!append) clearDir(outDir)
    java.nio.file.Files.createDirectories(dirPath)
    val colsB = cols
    val tableB = table
    val prefixB = prefix
    val hintsB = hints
    val pkB = pk
    val esCsB = enumSetCharset
    val rqB = rowsQuery
    // ts rides RAW (TimestampNTZ → LocalDateTime task-side) and
    // converts to the header's epoch seconds via UTC — the exact
    // inverse of the parser's LocalDateTime.ofEpochSecond(…, UTC), so
    // the round trip is timezone-independent (a unix_micros(cast)
    // here would interpret the wall clock in the SESSION timezone and
    // silently shift every event time on non-UTC sessions)
    val ordered = df.select(
      (Seq(col("op"), col("seq"),
        col("ts").cast(TimestampNTZType).as("ts")) ++
        colsB.map { case (n, _) => col(n) }): _*)
    ordered.repartition(files).foreachPartition {
      (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = new java.io.ByteArrayOutputStream()
        out.write(Magic)
        out.write(fdeEvent())
        out.write(tableMapEvent(tableB, colsB, hints = hintsB, pk = pkB,
          enumSetCharset = esCsB))
        it.foreach { r =>
          // binlog_rows_query_log_events=ON: each statement's
          // original SQL rides a type-29 event ahead of its rows —
          // deterministic text here (op+seq name the statement)
          if (rqB) out.write(rowsQueryEvent(r.getLong(1),
            r.getAs[java.time.LocalDateTime](2)
              .toEpochSecond(java.time.ZoneOffset.UTC),
            s"/* stmt */ ${r.getString(0)} seq=${r.getLong(1)}"))
          out.write(rowsEvent(r, colsB, hints = hintsB))
        }
        // a finished rotation ends with ROTATE — what the streaming
        // tail's torn-rotation gate checks for (inert to batch reads)
        out.write(rotateEvent(f"$prefixB.${pid + 1}%06d"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, f"$prefixB.$pid%06d"),
          out.toByteArray)
        ()
    }
  }

  /** Overwrite semantics for the fixture writers: clear the target
    * dir if it exists (stream closed explicitly — a leaked walk
    * handle per render call accumulates in a long-lived driver). */
  private def clearDir(outDir: String): Unit = {
    val dirPath = java.nio.file.Paths.get(outDir)
    if (java.nio.file.Files.exists(dirPath)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dirPath)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  /** The TABLE_MAP one-byte-length guard shared by every binary
    * fixture writer: an over-long name would silently truncate the
    * length byte and corrupt every event after it. */
  private def validateTableName(table: String): Unit =
    require(table.nonEmpty && table.getBytes("UTF-8").length <= 250 &&
      !table.exists(c => c.isWhitespace),
      s"bad table name '$table' for a TABLE_MAP event")

  private[sources] def validateCols(cols: Seq[(String, DataType)],
      hints: Map[String, WireHint] = Map.empty): Unit = {
    import WireHint._
    require(cols.nonEmpty, "empty TABLE_MAP column list")
    require(cols.map(_._1).distinct.length == cols.length,
      "duplicate TABLE_MAP column name(s): " +
        cols.map(_._1).diff(cols.map(_._1).distinct).distinct
          .mkString(", "))
    hints.keys.foreach { n =>
      require(cols.exists(_._1 == n),
        s"wire hint for '$n' names no declared column")
    }
    cols.foreach { case (n, t) =>
      val hint = hints.get(n)
      val ok = (t, hint) match {
        case (LongType | IntegerType | DoubleType | StringType |
          ByteType | ShortType | FloatType | BinaryType | DateType |
          TimestampNTZType | TimestampType, None) => true
        case (d: DecimalType, None) =>
          d.precision <= 65 && d.scale <= 30
        case (StringType, Some(Enum(vs))) =>
          require(vs.nonEmpty && vs.size <= 65535 &&
            vs.distinct.size == vs.size &&
            vs.forall(_.getBytes("UTF-8").length <= 65535),
            s"bad ENUM value list for '$n'")
          true
        case (LongType, Some(SetBits(m))) =>
          require(m >= 1 && m <= 64,
            s"MySQL SET carries 1..64 members, '$n' declares $m")
          true
        case (LongType, Some(SetNamed(vs))) =>
          require(vs.nonEmpty && vs.size <= 64 &&
            vs.distinct.size == vs.size &&
            vs.forall(v => v.nonEmpty && !v.contains(",")),
            s"bad SET member list for '$n' (1..64 distinct, " +
              "non-empty, comma-free members)")
          true
        case (LongType, Some(Bit(b))) =>
          require(b >= 1 && b <= 64,
            s"MySQL BIT carries 1..64 bits, '$n' declares $b")
          true
        case (ShortType, Some(Year)) => true
        case (StringType, Some(Json)) => true
        case (IntegerType, Some(TimeSeconds)) => true
        case (IntegerType, Some(MediumInt)) => true
        case (BinaryType, Some(RawText)) => true
        case (BinaryType, Some(Geometry)) => true
        case (StringType, Some(Char(l))) =>
          require(l >= 1 && l <= 1023,
            s"CHAR hint for '$n' must declare 1..1023 bytes (CHAR(255)" +
              s" utf8mb4 = 1020), got $l")
          true
        case (StringType, Some(DateText) | Some(DateTimeText)) => true
        case (BinaryType, Some(Charset(id))) =>
          require(MySqlCharsets.javaName(id).isDefined,
            s"unknown MySQL collation id $id for '$n' — " +
              "extend MySqlCharsets or use RawText")
          true
        case (StringType, Some(Text)) => true
        case (ShortType | IntegerType | LongType, Some(Unsigned)) => true
        case (d: DecimalType, Some(Unsigned)) =>
          require(d.precision == 20 && d.scale == 0,
            s"BIGINT UNSIGNED '$n' must declare DecimalType(20, 0) — " +
              "the UINT64 convention — not " + d.simpleString)
          true
        case _ => false
      }
      require(ok,
        s"unsupported binlog-binary column declaration for '$n': $t" +
          hint.fold("")(h => s" with hint $h") +
          " — see WireHint for the type-hint pairs this dialect carries")
      require(!Seq("op", "seq", "ts").contains(n),
        s"payload column '$n' collides with envelope bookkeeping")
    }
  }

  // ---- event builders (private[graft] so specs can compose
  //      malformed files byte by byte) ----

  private def u32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
    b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
  }
  private def u16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
  }

  /** Seal a header + payload into one checksummed event. `tsSec` and
    * `logPos` must fit the header's 32-bit fields — the format cannot
    * name larger values and silently truncating one would corrupt the
    * position/clock it claims to carry. */
  private[graft] def sealEvent(tsSec: Long, eventType: Int,
      logPos: Long, payload: Array[Byte], serverId: Long = 1L,
      flags: Int = 0): Array[Byte] = {
    require(tsSec >= 0 && tsSec <= 0xffffffffL,
      s"binlog header clocks are 32-bit epoch seconds; $tsSec is out " +
        "of range — refuse instead of truncating")
    require(logPos >= 0 && logPos <= 0xffffffffL,
      s"binlog positions are 32-bit; $logPos is out of range — " +
        "refuse instead of truncating")
    val size = HeaderLen + payload.length + 4 // + CRC32
    val b = new java.io.ByteArrayOutputStream(size)
    u32(b, tsSec)
    b.write(eventType)
    u32(b, serverId)
    u32(b, size.toLong)
    u32(b, logPos)
    u16(b, flags)
    b.write(payload)
    val body = b.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(body, 0, body.length)
    u32(b, crc.getValue)
    b.toByteArray
  }

  /** Walk an inflated TRANSACTION_PAYLOAD's inner event stream — the
    * ONE validation loop for every consumer (decode, Xid scan):
    * size-addressed 19-byte headers, no magic, no FDE, no per-event
    * checksum (the wrapper's CRC covered them), and nested wrappers
    * refuse HERE so the rule cannot fork between consumers. Handler
    * args: (eventType, tsSec, logPos, offset, end).
    *
    * `outerPos` is the wrapping TRANSACTION_PAYLOAD event's own header
    * position (its END position, per the format), `wrapperStart` its
    * file offset — together they bound the file bytes the wrapper
    * occupies, and they gate how the inner headers' `log_pos` fields
    * feed `seq` (the latest-wins collapse's ordering axis). Two
    * numbering dialects exist on real inputs:
    *
    *  - DUMP-GLOBAL (mysqlbinlog-recomputed output, this renderer's
    *    fixtures): every inner ROW/XID position is at or past the
    *    wrapper's own position and non-decreasing — passed through
    *    verbatim, regression refuses as corruption;
    *  - TRANSACTION-CACHE-RELATIVE (what a MySQL 8 server actually
    *    writes with binlog_transaction_compression=ON: inner events
    *    keep the end_log_pos they had in the transaction cache —
    *    small, restarting per transaction). Passing those through
    *    would collide and reorder the collapse, so they are
    *    RENUMBERED deterministically: the k-th seq-bearing inner
    *    event becomes `wrapperStart + k`. Every renumbered position
    *    lands strictly INSIDE the wrapper's own byte footprint
    *    `(wrapperStart, outerPos)`, so the total order against every
    *    other position in the file — GTID stamps, plain row events,
    *    other wrappers' renumbered rows — is preserved without any
    *    cross-wrapper bookkeeping. A transaction carrying more
    *    seq-bearing events than its wrapper's byte footprint can
    *    number refuses by name (re-dump through mysqlbinlog), as does
    *    a raw regression within the payload — fail-loud, never a
    *    silent collision.
    *
    * The dialect is decided per WRAPPER by its first seq-bearing
    * event (below the wrapper's position = cache-relative); a server
    * never mixes dialects inside one wrapper, and a mixed wrapper
    * trips the corresponding refusal. Non-row inner events
    * (TABLE_MAP, GTID) never feed `seq`, so their positions stay
    * unchecked and unrenumbered. */
  private def walkInnerEvents(inner: Array[Byte], path: String,
      outerPos: Long, wrapperStart: Long)(
      handler: (Int, Long, Long, Int, Int) => Unit): Unit = {
    var io = 0
    var lastSeqPos = -1L
    var lastRawPos = -1L
    var seqCount = 0L
    // decided on the first seq-bearing inner event; None until then
    var cacheRelative: Option[Boolean] = None
    while (io < inner.length) {
      require(inner.length - io >= HeaderLen,
        s"$path: truncated inner event header at payload offset $io " +
          s"(${inner.length - io} trailing bytes)")
      val its = rdU32(inner, io)
      val it = inner(io + 4) & 0xff
      val isz = rdU32(inner, io + 9).toInt
      val rawPos = rdU32(inner, io + 13)
      require(isz >= HeaderLen && io + isz <= inner.length,
        s"$path: inner event at payload offset $io declares size " +
          s"$isz beyond the payload's ${inner.length} bytes — " +
          "truncated or corrupt")
      require(it != TRANSACTION_PAYLOAD,
        s"$path: nested TRANSACTION_PAYLOAD at payload offset $io — " +
          "the format does not nest; corrupt")
      val ipos =
        if (it == WRITE_ROWS_V2 || it == UPDATE_ROWS_V2 ||
          it == DELETE_ROWS_V2 || it == PARTIAL_UPDATE_ROWS ||
          it == XID) {
          if (cacheRelative.isEmpty)
            cacheRelative = Some(rawPos < outerPos)
          if (cacheRelative.contains(true)) {
            // authentic server numbering: renumber into the wrapper's
            // own byte footprint (see the dialect rules above)
            require(rawPos >= lastRawPos,
              s"$path: inner event at payload offset $io regresses " +
                s"from cache position $lastRawPos to $rawPos — the " +
                "payload is corrupt")
            lastRawPos = rawPos
            seqCount += 1
            val renumbered = wrapperStart + seqCount
            require(renumbered < outerPos,
              s"$path: TRANSACTION_PAYLOAD at position $outerPos " +
                s"carries $seqCount+ row/commit events — more than " +
                s"its ${outerPos - wrapperStart}-byte wrapper can " +
                "renumber collision-free; re-number the stream " +
                "through mysqlbinlog or dump with " +
                "binlog_transaction_compression=OFF")
            renumbered
          } else {
            require(rawPos >= outerPos && rawPos >= lastSeqPos,
              s"$path: inner event at payload offset $io carries " +
                s"position $rawPos below its TRANSACTION_PAYLOAD " +
                s"wrapper's $outerPos (or regressing from " +
                s"$lastSeqPos) after the wrapper opened dump-global — " +
                "a mixed-numbering payload is corrupt")
            lastSeqPos = rawPos
            rawPos
          }
        } else rawPos
      handler(it, its, ipos, io, io + isz)
      io += isz
    }
  }

  /** Inflate a TRANSACTION_PAYLOAD event's body into the inner event
    * stream it wraps — `binlog_transaction_compression=ON` (MySQL
    * 8.0.20+): the body is a TLV header (field type as a packed int —
    * 0 ends the header, 2 = compression type, 3 = uncompressed size,
    * each non-end field followed by a packed length and that many
    * value bytes) and then the payload bytes to the event end.
    * Compression type 0 = ZSTD (inflated against the DECLARED
    * uncompressed size — a mismatch refuses as corruption), 255 =
    * NONE. Unknown field types skip by their declared length (the
    * format's own forward-compatibility rule); unknown compression
    * types refuse loudly. */
  private def inflatePayload(bytes: Array[Byte], path: String,
      start: Int, end: Int): Array[Byte] = {
    val c = new Cursor(bytes, start, end,
      s"$path TRANSACTION_PAYLOAD at $start")
    var compression = 255L // NONE unless declared
    var uncompressed = -1L
    var done = false
    while (!done) {
      val t = c.packed()
      if (t == 0) done = true // OTW header end mark
      else {
        // validate the packed length BEFORE narrowing: a corrupt
        // 64-bit length would truncate negative through .toInt, slip
        // past need() (o + negative <= end holds), and REWIND the
        // cursor — crafted bytes then cycle this loop forever
        val lenL = c.packed()
        require(lenL >= 0 && lenL <= (end - c.o).toLong,
          s"$path: TRANSACTION_PAYLOAD field $t declares length " +
            s"$lenL beyond the event body — corrupt")
        val len = lenL.toInt
        val valEnd = c.o + len
        val v = new Cursor(bytes, c.o, valEnd,
          s"$path TRANSACTION_PAYLOAD field $t")
        t match {
          case 2 => compression = v.packed()
          case 3 => uncompressed = v.packed()
          case _ => () // payload-size & future fields: length-skipped
        }
        c.o = valEnd
      }
    }
    val payload = java.util.Arrays.copyOfRange(bytes, c.o, end)
    compression match {
      case 255 => payload
      case 0 =>
        require(uncompressed >= 0,
          s"$path: ZSTD TRANSACTION_PAYLOAD declares no uncompressed " +
            "size — corrupt")
        // MySQL bounds one event at 1 GiB — a declared size past that
        // is corruption, not data, and must not drive the allocation
        require(uncompressed <= (1L << 30),
          s"$path: ZSTD TRANSACTION_PAYLOAD declares $uncompressed " +
            "uncompressed bytes — past the 1 GiB event bound; corrupt")
        val out =
          try com.github.luben.zstd.Zstd.decompress(
            payload, uncompressed.toInt)
          catch {
            case e: Exception => throw new IllegalArgumentException(
              s"$path: ZSTD payload failed to inflate to its declared " +
                s"$uncompressed bytes (${e.getMessage}) — the event is " +
                "corrupt; refuse rather than decode garbage")
          }
        // zstd-jni returns the ACTUAL inflated bytes without error
        // when a truncated frame yields fewer than declared — that
        // would silently lose the transaction's tail, so the declared
        // size is a contract, not a hint
        require(out.length == uncompressed.toInt,
          s"$path: ZSTD payload inflated to ${out.length} bytes but " +
            s"declared $uncompressed — a truncated compressed " +
            "transaction; refuse rather than decode a partial event " +
            "stream")
        out
      case other => throw new IllegalArgumentException(
        s"$path: unknown TRANSACTION_PAYLOAD compression type $other " +
          "(0=ZSTD, 255=NONE) — refuse rather than guess")
    }
  }

  /** Inflate a MariaDB compressed row event's ROW-IMAGE block —
    * `log_bin_compress=ON` (10.2+) compresses each row event's images
    * individually (types 166–168), unlike MySQL's type-40 whole-
    * transaction wrapper. Public block format (the server's
    * binlog_compress framing): one header byte `0x80 | (algorithm <<
    * 4) | lenlen` (algorithm 0 = zlib — anything else refuses by
    * value), then `lenlen` little-endian bytes of uncompressed
    * length, then the deflate stream to the event end. The declared
    * length is a contract: an inflate landing short or long is a
    * truncated/corrupt event and refuses. */
  private def inflateMariaRows(c: Cursor, path: String): Cursor = {
    val h = c.u8()
    require((h & 0x80) != 0,
      s"${c.what}: MariaDB compressed row event's block header " +
        f"0x$h%02x has no compression mark (bit 7) — corrupt")
    val alg = (h >> 4) & 0x07
    require(alg == 0,
      s"${c.what}: unknown MariaDB row-compression algorithm $alg " +
        "(0 = zlib) — refuse rather than guess")
    val lenlen = h & 0x0f
    require(lenlen >= 1 && lenlen <= 4,
      s"${c.what}: MariaDB compressed block declares a $lenlen-byte " +
        "length field (1..4) — corrupt")
    c.need(lenlen)
    var declared = 0L
    (0 until lenlen).foreach(i =>
      declared |= (c.b(c.o + i) & 0xffL) << (8 * i))
    c.o += lenlen
    require(declared <= (1L << 30),
      s"${c.what}: MariaDB compressed block declares $declared " +
        "uncompressed bytes — past the 1 GiB event bound; corrupt")
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(c.b, c.o, c.end - c.o)
    val out = new Array[Byte](declared.toInt)
    val got =
      try inflater.inflate(out)
      catch {
        case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(
            s"${c.what}: MariaDB zlib row block failed to inflate " +
              s"(${e.getMessage}) — the event is corrupt; refuse " +
              "rather than decode garbage")
      } finally inflater.end()
    require(got == declared.toInt,
      s"${c.what}: MariaDB zlib row block inflated to $got bytes " +
        s"but declared $declared — a truncated compressed event; " +
        "refuse rather than decode a partial row set")
    c.o = c.end // the block consumes the event body
    new Cursor(out, 0, out.length, s"${c.what} (inflated rows)")
  }

  /** One TRANSACTION_PAYLOAD event wrapping `inner` event bytes —
    * the [[inflatePayload]] inverse for fixtures: inner events must
    * carry NO per-event CRC ([[withoutCrc]] strips one), the wrapper
    * is checksummed like every outer event. */
  def payloadEvent(pos: Long, tsSec: Long,
      inner: Seq[Array[Byte]], compressed: Boolean = true): Array[Byte] = {
    val innerBytes = inner.foldLeft(new java.io.ByteArrayOutputStream()) {
      (b, ev) => b.write(ev); b
    }.toByteArray
    val b = new java.io.ByteArrayOutputStream()
    // compression type field (2), then for ZSTD the uncompressed size
    // field (3), then the header end mark, then the payload
    val ctype = if (compressed) 0L else 255L
    val cval = new java.io.ByteArrayOutputStream()
    packed(cval, ctype)
    packed(b, 2L); packed(b, cval.size.toLong); b.write(cval.toByteArray)
    val payload =
      if (compressed) {
        val uval = new java.io.ByteArrayOutputStream()
        packed(uval, innerBytes.length.toLong)
        packed(b, 3L); packed(b, uval.size.toLong); b.write(uval.toByteArray)
        com.github.luben.zstd.Zstd.compress(innerBytes, 3)
      } else innerBytes
    packed(b, 0L) // header end mark
    b.write(payload)
    sealEvent(tsSec, TRANSACTION_PAYLOAD, pos, b.toByteArray)
  }

  /** Strip an event's trailing CRC32 and fix its header size — events
    * INSIDE a TRANSACTION_PAYLOAD carry no per-event checksum (the
    * wrapper's CRC covers them), so fixture builders' checksummed
    * output converts through here before wrapping. */
  private[graft] def withoutCrc(ev: Array[Byte]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(ev, ev.length - 4)
    val newSize = out.length
    out(9) = (newSize & 0xff).toByte
    out(10) = ((newSize >> 8) & 0xff).toByte
    out(11) = ((newSize >> 16) & 0xff).toByte
    out(12) = ((newSize >> 24) & 0xff).toByte
    out
  }

  /** [[render]] with `binlog_transaction_compression=ON` framing: row
    * batches wrap in ZSTD TRANSACTION_PAYLOAD events, each carrying
    * its own TABLE_MAP exactly as a server compresses a transaction
    * (map + rows together). Real wire bytes end to end — the
    * compressed decode path is exercised from genuine ZSTD frames.
    * Rows sort by `seq` within each file before chunking so the
    * rendered stream honors the inner-position discipline
    * [[walkInnerEvents]] enforces: each wrapper sits at its first
    * row's position and every inner row position is at or past it and
    * non-decreasing — the dump-global numbering a decoder passes
    * through verbatim (a real server's cache-relative inner positions
    * instead renumber deterministically into the wrapper's byte
    * footprint at decode — see [[walkInnerEvents]]). */
  def renderCompressed(df: DataFrame, cols: Seq[(String, DataType)],
      outDir: String, files: Int = 4, table: String = "orders",
      rowsPerTxn: Int = 512,
      hints: Map[String, WireHint] = Map.empty): Unit = {
    validateCols(cols, hints)
    validateTableName(table)
    require(files >= 1, "at least one binlog file")
    require(rowsPerTxn >= 1, "at least one row per wrapped transaction")
    clearDir(outDir)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    val colsB = cols
    val tableB = table
    val perTxnB = rowsPerTxn
    val hintsB = hints
    val ordered = df.select(
      (Seq(col("op"), col("seq"),
        col("ts").cast(TimestampNTZType).as("ts")) ++
        colsB.map { case (n, _) => col(n) }): _*)
    ordered.repartition(files).sortWithinPartitions(col("seq"))
      .foreachPartition {
      (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = new java.io.ByteArrayOutputStream()
        out.write(Magic)
        out.write(fdeEvent())
        it.grouped(perTxnB).foreach { chunk =>
          val inner =
            withoutCrc(tableMapEvent(tableB, colsB, hints = hintsB)) +:
            chunk.map(r => withoutCrc(rowsEvent(r, colsB, hints = hintsB)))
          // position the wrapper at its first row's seq (inner events
          // keep their own header positions)
          out.write(payloadEvent(chunk.head.getLong(1),
            chunk.head.getAs[java.time.LocalDateTime](2)
              .toEpochSecond(java.time.ZoneOffset.UTC), inner))
        }
        out.write(rotateEvent(f"bin.${pid + 1}%06d"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, f"bin.$pid%06d"),
          out.toByteArray)
        ()
    }
  }

  /** One Query event — the statement transport (DDL, BEGIN/COMMIT
    * punctuation). Payload layout: `thread_id(4) exec_time(4)
    * schema_len(1) error_code(2) status_vars_len(2)` + schema + NUL +
    * statement text. For fixtures interleaving DDL with row events
    * (the [[parseDdl]] inverse). */
  def queryEvent(pos: Long, tsSec: Long, sql: String,
      schema: String = "db"): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    u32(b, 1L) // thread_id
    u32(b, 0L) // exec_time
    val sb = schema.getBytes("UTF-8")
    b.write(sb.length)
    u16(b, 0) // error_code
    u16(b, 0) // status_vars_len (none)
    b.write(sb); b.write(0)
    b.write(sql.getBytes("UTF-8"))
    sealEvent(tsSec, QUERY, pos, b.toByteArray)
  }

  /** One MariaDB zlib block (`0x80|lenlen` + LE uncompressed length +
    * deflate stream) — [[inflateMariaRows]]'s inverse, shared by the
    * compressed row and Query builders. */
  private def compressBlockMaria(
      b: java.io.ByteArrayOutputStream, bytes: Array[Byte]): Unit = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(bytes); deflater.finish()
    val buf = new Array[Byte](bytes.length + bytes.length / 1000 + 64)
    val clen = deflater.deflate(buf)
    require(deflater.finished(),
      "zlib deflate did not fit its bound — unreachable for a " +
        "finished small block")
    deflater.end()
    val lenlen =
      if (bytes.length < (1 << 8)) 1
      else if (bytes.length < (1 << 16)) 2
      else if (bytes.length < (1 << 24)) 3
      else 4
    b.write(0x80 | lenlen)
    var v = bytes.length.toLong
    (0 until lenlen).foreach { _ => b.write((v & 0xff).toInt); v >>= 8 }
    b.write(buf, 0, clen)
  }

  /** [[queryEvent]] in MariaDB's COMPRESSED framing (type 165,
    * `log_bin_compress=ON`): same post-header/status/schema layout,
    * the statement text zlib-blocked. */
  def queryEventCompressedMaria(pos: Long, tsSec: Long, sql: String,
      schema: String = "db"): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    u32(b, 1L) // thread_id
    u32(b, 0L) // exec_time
    val sb = schema.getBytes("UTF-8")
    b.write(sb.length)
    u16(b, 0) // error_code
    u16(b, 0) // status_vars_len (none)
    b.write(sb); b.write(0)
    compressBlockMaria(b, sql.getBytes("UTF-8"))
    sealEvent(tsSec, QUERY_COMPRESSED_MARIA, pos, b.toByteArray)
  }

  /** One GTID event — the transaction stamp a `gtid_mode=ON` server
    * writes before every transaction: `flags(1) sid(16) gno(8 LE)`
    * (the [[parseGtidIndex]] inverse). */
  def gtidEvent(pos: Long, tsSec: Long, uuid: String,
      txn: Long): Array[Byte] = {
    require(txn >= 1, s"GTID transaction numbers start at 1, got $txn")
    val hex = uuid.replace("-", "").toLowerCase
    require(hex.length == 32 && hex.forall(c =>
      c.isDigit || (c >= 'a' && c <= 'f')),
      s"bad GTID uuid '$uuid' — expected 32 hex digits")
    val b = new java.io.ByteArrayOutputStream()
    b.write(1) // commit flag
    hex.grouped(2).foreach(h => b.write(Integer.parseInt(h, 16)))
    var g = txn
    (0 until 8).foreach { _ => b.write((g & 0xff).toInt); g >>= 8 }
    sealEvent(tsSec, GTID, pos, b.toByteArray)
  }

  /** One MARIADB GTID event (type 162) — the stamp a MariaDB server
    * writes before every transaction: `seqno(8 LE) domain(4 LE)
    * flags(1)`; the server id rides the common header (the
    * [[parseGtidIndexMaria]] inverse). */
  def gtidEventMaria(pos: Long, tsSec: Long, domain: Long,
      server: Long, seqno: Long): Array[Byte] = {
    require(domain >= 0 && domain <= 0xffffffffL &&
      server >= 1 && server <= 0xffffffffL && seqno >= 1,
      s"bad MariaDB GTID $domain-$server-$seqno")
    val b = new java.io.ByteArrayOutputStream()
    var n = seqno
    (0 until 8).foreach { _ => b.write((n & 0xff).toInt); n >>= 8 }
    u32(b, domain)
    b.write(0) // flags2
    sealEvent(tsSec, GTID_MARIA, pos, b.toByteArray, serverId = server)
  }

  /** One MARIADB GTID_LIST event (type 163) — what a MariaDB server
    * writes at each rotation head: the executed state BEFORE this
    * file, `count(4 LE, low 28 bits)` then count × `domain(4)
    * server(4) seqno(8)` LE. The decode's continuity guard anchors on
    * it ([[parseGtidIndexMaria]]). */
  def gtidListEventMaria(pos: Long, tsSec: Long,
      entries: Seq[(Long, Long, Long)]): Array[Byte] = {
    require(entries.size < (1 << 28), "GTID_LIST count field overflow")
    val b = new java.io.ByteArrayOutputStream()
    u32(b, entries.size.toLong)
    entries.foreach { case (d, s, n) =>
      u32(b, d); u32(b, s)
      var x = n
      (0 until 8).foreach { _ => b.write((x & 0xff).toInt); x >>= 8 }
    }
    sealEvent(tsSec, GTID_LIST_MARIA, pos, b.toByteArray)
  }

  /** One ROWS_QUERY event (type 29, `binlog_rows_query_log_events=
    * ON`): the statement's original SQL riding ahead of its row
    * events — payload is the legacy 1-byte length (capped at 255;
    * decoders read the text to the event end) + the UTF-8 text. */
  def rowsQueryEvent(pos: Long, tsSec: Long,
      sql: String): Array[Byte] = {
    val tb = sql.getBytes("UTF-8")
    require(tb.nonEmpty, "empty ROWS_QUERY text")
    val b = new java.io.ByteArrayOutputStream()
    b.write(math.min(255, tb.length))
    b.write(tb)
    sealEvent(tsSec, ROWS_QUERY, pos, b.toByteArray)
  }

  /** One MariaDB ANNOTATE_ROWS event (type 160,
    * `binlog_annotate_row_events=ON`) — the statement text verbatim;
    * the Maria dialect's [[rowsQueryEvent]]. */
  def annotateRowsEventMaria(pos: Long, tsSec: Long,
      sql: String): Array[Byte] = {
    val tb = sql.getBytes("UTF-8")
    require(tb.nonEmpty, "empty ANNOTATE_ROWS text")
    sealEvent(tsSec, ANNOTATE_ROWS_MARIA, pos, tb)
  }

  /** One HEARTBEAT event (type 27) — the keep-alive a master sends
    * on an idle dump SOCKET (never written to binlog files): payload
    * is the current binlog file name, header position the
    * caught-up-through position. */
  def heartbeatEvent(pos: Long, tsSec: Long,
      logName: String = "bin.000001"): Array[Byte] =
    sealEvent(tsSec, HEARTBEAT, pos, logName.getBytes("UTF-8"))

  /** One Xid event — the COMMIT marker (payload: `xid(8 LE)`; the
    * [[parseXids]] inverse). */
  def xidEvent(pos: Long, tsSec: Long, xid: Long): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    var x = xid
    (0 until 8).foreach { _ => b.write((x & 0xff).toInt); x >>= 8 }
    sealEvent(tsSec, XID, pos, b.toByteArray)
  }

  /** One ROTATE event — what a server writes when it FINISHES a
    * rotation file (post-header `position(8 LE)` + next file name):
    * the completeness marker the streaming tail's torn-rotation gate
    * checks for. */
  def rotateEvent(nextFile: String, pos: Long = 4L): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    var p = pos
    (0 until 8).foreach { _ => b.write((p & 0xff).toInt); p >>= 8 }
    b.write(nextFile.getBytes("UTF-8"))
    sealEvent(0L, ROTATE, 0L, b.toByteArray)
  }

  /** Write a self-contained binlog file (magic + FDE + the given
    * events) — the fixture composer for dumps interleaving GTID/Query/
    * Xid events with [[render]]'s row files (positions are dump-global,
    * exactly like the text fixtures' side files). */
  def writeEvents(outDir: String, name: String,
      events: Seq[Array[Byte]]): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    out.write(fdeEvent())
    events.foreach(out.write)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, name), out.toByteArray)
    ()
  }

  /** FORMAT_DESCRIPTION event declaring binlog v4, the 19-byte header,
    * and CRC32 checksums (the 5.6+ trailing algorithm byte). */
  private[graft] def fdeEvent(): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    u16(b, 4) // binlog_version
    val ver = "8.0.36-graft".getBytes("UTF-8")
    b.write(ver)
    b.write(new Array[Byte](50 - ver.length)) // null-padded to 50
    u32(b, 0L) // create_timestamp
    b.write(HeaderLen) // header_length
    // post-header length table, one byte per known event type — our
    // parser reads sizes from each event's own header, so plausible
    // zeros suffice here (a real server fills its own table)
    b.write(new Array[Byte](38))
    b.write(1) // checksum algorithm: CRC32
    sealEvent(0L, FORMAT_DESCRIPTION, 0L, b.toByteArray)
  }

  /** TABLE_MAP event: table id 108, the declared columns' wire types
    * and metadata, all columns nullable. `pk` (column names) emits the
    * SIMPLE_PRIMARY_KEY optional-metadata field (TLV 8) — the
    * `binlog_row_metadata=FULL` self-description [[parsePrimaryKey]]
    * reads; `pkPrefixLens` emits PRIMARY_KEY_WITH_PREFIX (TLV 9,
    * prefix-indexed key parts) for fixtures exercising its refusal. */
  private[graft] def tableMapEvent(table: String,
      cols: Seq[(String, DataType)], tableId: Long = 108L,
      tsSec: Long = 0L,
      hints: Map[String, WireHint] = Map.empty,
      pk: Seq[String] = Seq.empty,
      pkPrefixLens: Seq[(String, Int)] = Seq.empty,
      enumSetCharset: Option[Int] = None): Array[Byte] = {
    import WireHint._
    val b = new java.io.ByteArrayOutputStream()
    // post-header: table_id(6 LE) + flags(2)
    var tid = tableId
    (0 until 6).foreach { _ => b.write((tid & 0xff).toInt); tid >>= 8 }
    u16(b, 1)
    val db = "db".getBytes("UTF-8")
    b.write(db.length); b.write(db); b.write(0)
    val tb = table.getBytes("UTF-8")
    b.write(tb.length); b.write(tb); b.write(0)
    packed(b, cols.length.toLong)
    cols.foreach { case (n, t) => b.write(wireType(t, hints.get(n))) }
    // metadata block: packed length, then per-type metadata
    val meta = new java.io.ByteArrayOutputStream()
    cols.foreach { case (n, t) =>
      (t, hints.get(n)) match {
        case (DoubleType, _) => meta.write(8)
        case (FloatType, _) => meta.write(4)
        case (StringType, Some(Enum(vs))) =>
          // ENUM/SET ride the STRING slot: meta = (real type, pack len)
          meta.write(T_ENUM)
          meta.write(if (vs.size <= 255) 1 else 2)
        case (LongType, Some(SetBits(m))) =>
          meta.write(T_SET); meta.write((m + 7) / 8)
        case (LongType, Some(SetNamed(vs))) =>
          meta.write(T_SET); meta.write((vs.size + 7) / 8)
        case (LongType, Some(Bit(bits))) =>
          meta.write(bits % 8); meta.write(bits / 8)
        case (StringType, Some(Char(l))) =>
          // the split-length encoding (the server XORs the length's
          // high bits into the type byte); collapses to the simple
          // form for l ≤ 255
          meta.write(T_STRING ^ ((l & 0x300) >> 4))
          meta.write(l & 0xff)
        case (StringType, Some(Json)) =>
          meta.write(4) // length-prefix width
        case (StringType, Some(DateText)) => () // DATE: no metadata
        case (StringType, Some(DateTimeText)) => meta.write(0) // fsp 0
        case (StringType, Some(Text)) => meta.write(2) // TEXT len-bytes
        case (BinaryType, Some(Geometry)) =>
          meta.write(4) // GEOMETRY length-prefix width
        case (BinaryType, Some(RawText)) => u16(meta, 65535)
        case (BinaryType, Some(Charset(_))) => u16(meta, 65535)
        case (BinaryType, _) => meta.write(2) // BLOB length-prefix width
        case (StringType, _) => u16(meta, 65535) // VARCHAR max length, LE
        case (TimestampNTZType, _) | (TimestampType, _) =>
          meta.write(6) // fsp: microseconds
        case (IntegerType, Some(TimeSeconds)) => meta.write(0) // fsp 0
        case (_: DecimalType, Some(Unsigned)) => () // BIGINT UNSIGNED
        case (d: DecimalType, _) =>
          meta.write(d.precision); meta.write(d.scale)
        case _ => () // TINY/SHORT/INT24/LONG/LONGLONG/YEAR/DATE: none
      }
    }
    val mb = meta.toByteArray
    packed(b, mb.length.toLong)
    b.write(mb)
    // null bits: every column nullable (the envelope's own posture)
    b.write(Array.fill[Byte]((cols.length + 7) / 8)(0xff.toByte))
    // OPTIONAL METADATA (MySQL 8.0.1+, binlog_row_metadata): TLV
    // fields after the null bits. Emitted here: SIGNEDNESS (every
    // numeric column's bit, MSB-first — what makes UNSIGNED decode
    // possible at all), COLUMN_NAME (per-column names, letting the
    // decoder validate declarations by NAME, not just position), and
    // ENUM_STR_VALUE for hinted ENUM columns (a self-describing dump
    // needs no value-list hint at decode).
    val wireTypes = cols.map { case (n, t) => wireType(t, hints.get(n)) }
    val numericIdx = cols.indices.filter(i =>
      NumericWireTypes.contains(wireTypes(i)))
    if (numericIdx.nonEmpty) {
      val bits = new Array[Byte]((numericIdx.length + 7) / 8)
      numericIdx.zipWithIndex.foreach { case (ci, bi) =>
        if (hints.get(cols(ci)._1).contains(WireHint.Unsigned))
          bits(bi / 8) = (bits(bi / 8) | (0x80 >> (bi % 8))).toByte
      }
      b.write(1); packed(b, bits.length.toLong); b.write(bits)
    }
    val names = new java.io.ByteArrayOutputStream()
    cols.foreach { case (n, _) =>
      val nb = n.getBytes("UTF-8")
      packed(names, nb.length.toLong); names.write(nb)
    }
    b.write(4); packed(b, names.size.toLong); b.write(names.toByteArray)
    // DEFAULT_CHARSET (field 2): packed default collation id, then
    // (character-column ordinal, collation id) pairs for columns that
    // differ — utf8mb4 (45) default, hinted Charset columns as the
    // exceptions
    locally {
      val metaByCol = {
        // rebuild each column's per-type metadata value to classify
        // STRING slots (ENUM/SET vs CHAR)
        cols.zipWithIndex.map { case ((n2, t2), i) =>
          (t2, hints.get(n2)) match {
            case (StringType, Some(Enum(vs))) =>
              (T_ENUM << 8) | (if (vs.size <= 255) 1 else 2)
            case (LongType, Some(SetBits(m))) =>
              (T_SET << 8) | ((m + 7) / 8)
            case (LongType, Some(SetNamed(vs))) =>
              (T_SET << 8) | ((vs.size + 7) / 8)
            case (StringType, Some(Char(l))) =>
              ((T_STRING ^ ((l & 0x300) >> 4)) << 8) | (l & 0xff)
            case _ => 0
          }
        }
      }
      val charOrdinals = cols.indices.filter(i =>
        isCharacterCol(wireTypes(i), metaByCol(i)))
      if (charOrdinals.nonEmpty) {
        val cs = new java.io.ByteArrayOutputStream()
        packed(cs, 45L) // default: utf8mb4
        charOrdinals.zipWithIndex.foreach { case (ci, ord) =>
          hints.get(cols(ci)._1) match {
            case Some(Charset(id)) =>
              packed(cs, ord.toLong); packed(cs, id.toLong)
            case _ => ()
          }
        }
        b.write(2); packed(b, cs.size.toLong); b.write(cs.toByteArray)
      }
    }
    // the value-list bytes (ENUM and SET alike — the decoder applies
    // the declared list charset to BOTH) ride in the table's ENUM/SET
    // charset: utf8mb4 unless the fixture declares otherwise (then
    // field 10 names the collation, the self-description the decoder
    // reads). One charset for both families — writing SET members
    // UTF-8 while field 10 declared another collation decoded SET
    // text through the wrong charset (round-20 ADVICE, medium).
    val listJavaCs = enumSetCharset match {
      case None => "UTF-8"
      case Some(id) => MySqlCharsets.javaName(id) match {
        case Some(Some(cs)) => cs
        case _ => throw new IllegalArgumentException(
          s"enumSetCharset $id is unknown or binary — ENUM/SET members " +
            "are text; use a text collation id")
      }
    }
    // SET_STR_VALUE (field 5): per SET column in order — the member
    // list that makes a StringType declaration decodable with no hint
    val setCols = cols.collect {
      case (n, _)
        if hints.get(n).exists(_.isInstanceOf[WireHint.SetNamed]) =>
        hints(n).asInstanceOf[WireHint.SetNamed].values
    }
    if (setCols.nonEmpty) {
      val sv = new java.io.ByteArrayOutputStream()
      setCols.foreach { vs =>
        packed(sv, vs.length.toLong)
        vs.foreach { v =>
          val vb = v.getBytes(listJavaCs)
          require(new String(vb, listJavaCs) == v,
            s"SET member '$v' does not survive charset " +
              s"$listJavaCs — the declared enumSetCharset cannot " +
              "carry it; refuse instead of storing mojibake")
          packed(sv, vb.length.toLong); sv.write(vb)
        }
      }
      b.write(5); packed(b, sv.size.toLong); b.write(sv.toByteArray)
    }
    val enumCols = cols.collect {
      case (n, _) if hints.get(n).exists(_.isInstanceOf[WireHint.Enum]) =>
        hints(n).asInstanceOf[WireHint.Enum].values
    }
    if (enumCols.nonEmpty) {
      val ev = new java.io.ByteArrayOutputStream()
      enumCols.foreach { vs =>
        packed(ev, vs.length.toLong)
        vs.foreach { v =>
          val vb = v.getBytes(listJavaCs)
          require(new String(vb, listJavaCs) == v,
            s"ENUM member '$v' does not survive charset " +
              s"$listJavaCs — the declared enumSetCharset cannot " +
              "carry it; refuse instead of storing mojibake")
          packed(ev, vb.length.toLong); ev.write(vb)
        }
      }
      b.write(6); packed(b, ev.size.toLong); b.write(ev.toByteArray)
    }
    // ENUM_AND_SET_DEFAULT_CHARSET (field 10): emitted whenever the
    // fixture declares a list charset and ANY enum/set column exists —
    // a SET-only table's declared charset was silently dropped before
    // (round-20 ADVICE, medium)
    if (enumCols.nonEmpty || setCols.nonEmpty) {
      enumSetCharset.foreach { id =>
        val cs = new java.io.ByteArrayOutputStream()
        packed(cs, id.toLong)
        b.write(10); packed(b, cs.size.toLong); b.write(cs.toByteArray)
      }
    }
    // GEOMETRY_TYPE (field 7): one packed geometry type per GEOMETRY
    // column — 0 = the untyped GEOMETRY supertype (this renderer's
    // passthrough posture; the decode validates the count)
    locally {
      val geoCount = cols.count { case (n2, t2) =>
        hints.get(n2).contains(WireHint.Geometry) }
      if (geoCount > 0) {
        val gt = new java.io.ByteArrayOutputStream()
        (0 until geoCount).foreach(_ => packed(gt, 0L))
        b.write(7); packed(b, gt.size.toLong); b.write(gt.toByteArray)
      }
    }
    // SIMPLE_PRIMARY_KEY (field 8): packed column INDICES of the
    // table's replication identity — what lets a dump self-describe
    // the key a collapse must use
    if (pk.nonEmpty) {
      val pb = new java.io.ByteArrayOutputStream()
      pk.foreach { n =>
        val i = cols.indexWhere(_._1 == n)
        require(i >= 0,
          s"primary-key column '$n' is not in the TABLE_MAP columns")
        packed(pb, i.toLong)
      }
      b.write(8); packed(b, pb.size.toLong); b.write(pb.toByteArray)
    }
    // PRIMARY_KEY_WITH_PREFIX (field 9): (index, prefix length)
    // pairs — prefix-indexed key parts (PRIMARY KEY (blob_col(10)));
    // emitted only for fixtures that exercise the decode-side refusal
    if (pkPrefixLens.nonEmpty) {
      val pb = new java.io.ByteArrayOutputStream()
      pkPrefixLens.foreach { case (n, l) =>
        val i = cols.indexWhere(_._1 == n)
        require(i >= 0,
          s"primary-key column '$n' is not in the TABLE_MAP columns")
        packed(pb, i.toLong); packed(pb, l.toLong)
      }
      b.write(9); packed(b, pb.size.toLong); b.write(pb.toByteArray)
    }
    sealEvent(tsSec, TABLE_MAP, 0L, b.toByteArray)
  }

  /** Wire types that own a SIGNEDNESS bit in the optional metadata
    * (the server's is_numeric_type set). */
  private val NumericWireTypes = Set(T_TINY, T_SHORT, T_INT24, T_LONG,
    T_LONGLONG, T_FLOAT, T_DOUBLE, T_NEWDECIMAL)

  /** Wire types that own a CHARSET in the optional metadata (the
    * server's is_character_type set — VARCHAR/CHAR/TEXT; ENUM/SET
    * ride their own metadata fields and BLOB proper is binary). A
    * STRING slot counts only when its REAL type is CHAR. */
  private def isCharacterCol(wireType: Int, meta: Int): Boolean =
    wireType match {
      case T_VARCHAR | T_VAR_STRING | T_BLOB => true
      case T_STRING => stringMeta(meta)._1 == T_STRING
      case _ => false
    }

  /** The MySQL collation id → Java charset map for the ids this
    * decoder transcodes (the common deployment set); `binary` (63)
    * maps to None — bytes with no text reading. Anything else refuses
    * BY ID at decode when a text reading is requested. */
  private[graft] object MySqlCharsets {
    private val ById: Map[Int, Option[String]] = Map(
      5 -> Some("ISO-8859-1"), 8 -> Some("ISO-8859-1"), // latin1_*
      47 -> Some("ISO-8859-1"),
      33 -> Some("UTF-8"), 83 -> Some("UTF-8"), // utf8mb3_*
      192 -> Some("UTF-8"),
      45 -> Some("UTF-8"), 46 -> Some("UTF-8"), // utf8mb4_*
      224 -> Some("UTF-8"), 255 -> Some("UTF-8"),
      63 -> None) // binary
    def javaName(id: Int): Option[Option[String]] = ById.get(id)
  }

  /** One row event from one envelope row (op, seq, ts_us, values…).
    * Updates write (before == after) image pairs — FULL-image fixture
    * shape. */
  private[graft] def rowsEvent(r: Row, cols: Seq[(String, DataType)],
      tableId: Long = 108L,
      hints: Map[String, WireHint] = Map.empty): Array[Byte] = {
    val op = r.getString(0)
    val seq = r.getLong(1)
    val ldt = r.getAs[java.time.LocalDateTime](2)
    require(ldt.getNano == 0,
      s"binlog headers are second-granular; event at seq $seq carries " +
        s"sub-second time ($ldt) the format would silently floor — " +
        "refuse instead")
    val tsSec = ldt.toEpochSecond(java.time.ZoneOffset.UTC)
    val eventType = op match {
      case "I" => WRITE_ROWS_V2
      case "U" => UPDATE_ROWS_V2
      case "D" => DELETE_ROWS_V2
      case other => throw new IllegalArgumentException(
        s"cannot render op '$other' as a binlog row event")
    }
    val full = Array.fill(cols.length)(true)
    val image = imageBytes(r, cols, full, hints)
    val b = new java.io.ByteArrayOutputStream()
    var tid = tableId
    (0 until 6).foreach { _ => b.write((tid & 0xff).toInt); tid >>= 8 }
    u16(b, 1) // flags: STMT_END_F
    u16(b, 2) // v2 extra-data length (2 = none beyond the length field)
    packed(b, cols.length.toLong)
    val present = bitmapBytes(full)
    b.write(present) // columns-present bitmap (all)
    if (eventType == UPDATE_ROWS_V2) b.write(present) // after-image bitmap
    b.write(image)
    if (eventType == UPDATE_ROWS_V2) b.write(image) // before == after
    sealEvent(tsSec, eventType, seq, b.toByteArray)
  }

  /** One MariaDB COMPRESSED row event (types 166–168,
    * `log_bin_compress=ON`): the V1-shaped row event whose row images
    * ride one zlib block — post-header (table id, flags), packed
    * column count, columns-present bitmap(s) clear; then the block
    * header `0x80 | lenlen`, the little-endian uncompressed length,
    * and the deflate stream ([[inflateMariaRows]]'s inverse). */
  private[graft] def rowsEventCompressedMaria(r: Row,
      cols: Seq[(String, DataType)], tableId: Long = 108L,
      hints: Map[String, WireHint] = Map.empty): Array[Byte] = {
    val op = r.getString(0)
    val seq = r.getLong(1)
    val ldt = r.getAs[java.time.LocalDateTime](2)
    require(ldt.getNano == 0,
      s"binlog headers are second-granular; event at seq $seq carries " +
        s"sub-second time ($ldt) the format would silently floor — " +
        "refuse instead")
    val tsSec = ldt.toEpochSecond(java.time.ZoneOffset.UTC)
    val eventType = op match {
      case "I" => WRITE_ROWS_COMPRESSED_MARIA
      case "U" => UPDATE_ROWS_COMPRESSED_MARIA
      case "D" => DELETE_ROWS_COMPRESSED_MARIA
      case other => throw new IllegalArgumentException(
        s"cannot render op '$other' as a binlog row event")
    }
    val full = Array.fill(cols.length)(true)
    val image = imageBytes(r, cols, full, hints)
    val images =
      if (eventType == UPDATE_ROWS_COMPRESSED_MARIA)
        image ++ image // before == after, the FULL-image fixture shape
      else image
    val b = new java.io.ByteArrayOutputStream()
    var tid = tableId
    (0 until 6).foreach { _ => b.write((tid & 0xff).toInt); tid >>= 8 }
    u16(b, 1) // flags: STMT_END_F (V1: no extra-data field follows)
    packed(b, cols.length.toLong)
    val present = bitmapBytes(full)
    b.write(present)
    if (eventType == UPDATE_ROWS_COMPRESSED_MARIA) b.write(present)
    compressBlockMaria(b, images)
    sealEvent(tsSec, eventType, seq, b.toByteArray)
  }

  /** [[render]] with `log_bin_compress=ON` framing — the MARIADB
    * compression surface (per-EVENT zlib, types 166–168), the
    * counterpart of [[renderCompressed]]'s MySQL type-40 whole-
    * transaction wrapper. Same file shape otherwise: magic, FDE,
    * clear TABLE_MAP, then compressed row events, ROTATE to close. */
  def renderCompressedMaria(df: DataFrame,
      cols: Seq[(String, DataType)], outDir: String, files: Int = 4,
      table: String = "orders",
      hints: Map[String, WireHint] = Map.empty): Unit = {
    validateCols(cols, hints)
    validateTableName(table)
    require(files >= 1, "at least one binlog file")
    clearDir(outDir)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    val colsB = cols
    val tableB = table
    val hintsB = hints
    val ordered = df.select(
      (Seq(col("op"), col("seq"),
        col("ts").cast(TimestampNTZType).as("ts")) ++
        colsB.map { case (n, _) => col(n) }): _*)
    ordered.repartition(files).foreachPartition {
      (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = new java.io.ByteArrayOutputStream()
        out.write(Magic)
        out.write(fdeEvent())
        out.write(tableMapEvent(tableB, colsB, hints = hintsB))
        it.foreach { r =>
          out.write(rowsEventCompressedMaria(r, colsB, hints = hintsB))
        }
        out.write(rotateEvent(f"bin.${pid + 1}%06d"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, f"bin.$pid%06d"),
          out.toByteArray)
        ()
    }
  }

  /** One PARTIAL_UPDATE_ROWS event (type 39) — the
    * `binlog_row_value_options=PARTIAL_JSON` update shape: FULL
    * before image with the JSON column at its PRE-change document,
    * then the after image opening with `value_options = 1` and the
    * partial_bits bitmap, its JSON value a DIFF LIST (op, path,
    * binary-JSON value) instead of a document. `diffs` entries are
    * `(op, path, value-text-or-null)`; the fixture's decode applies
    * them against the before document exactly as a real replica
    * does. */
  private[graft] def rowsEventPartialJson(r: Row,
      cols: Seq[(String, DataType)], jsonIdx: Int, beforeDoc: String,
      diffs: Seq[(Int, String, Option[String])],
      hints: Map[String, WireHint],
      tableId: Long = 108L): Array[Byte] = {
    val seq = r.getLong(1)
    val ldt = r.getAs[java.time.LocalDateTime](2)
    require(ldt.getNano == 0,
      s"binlog headers are second-granular; event at seq $seq carries " +
        s"sub-second time ($ldt) the format would silently floor — " +
        "refuse instead")
    require(diffs.nonEmpty, "a partial JSON update needs diffs")
    val tsSec = ldt.toEpochSecond(java.time.ZoneOffset.UTC)
    val full = Array.fill(cols.length)(true)
    // the before image: the row's values with the JSON column at its
    // PRE-change document (other columns ride the after values — only
    // the JSON before-document is consulted by the diff application)
    val beforeRow = Row.fromSeq(r.toSeq.updated(3 + jsonIdx, beforeDoc))
    val diffBytes = {
      val d = new java.io.ByteArrayOutputStream()
      diffs.foreach { case (op, p, value) =>
        require(op >= 0 && op <= 2, s"bad JSON diff op $op")
        require((op == 2) == value.isEmpty,
          "REMOVE diffs carry no value; REPLACE/INSERT must")
        d.write(op)
        val pb = p.getBytes("UTF-8")
        packed(d, pb.length.toLong); d.write(pb)
        value.foreach { vt =>
          val doc = MySqlJsonb.encode(vt, s"JSON diff value at $p")
          packed(d, doc.length.toLong); d.write(doc)
        }
      }
      val body = d.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      u32(out, body.length.toLong) // the JSON meta's 4-byte length
      out.write(body)
      out.toByteArray
    }
    val b = new java.io.ByteArrayOutputStream()
    var tid = tableId
    (0 until 6).foreach { _ => b.write((tid & 0xff).toInt); tid >>= 8 }
    u16(b, 1) // flags: STMT_END_F
    u16(b, 2) // v2 extra-data length
    packed(b, cols.length.toLong)
    val present = bitmapBytes(full)
    b.write(present)
    b.write(present) // after-image bitmap
    b.write(imageBytes(beforeRow, cols, full, hints))
    packed(b, 1L) // value_options: PARTIAL_JSON
    // partial_bits: one bit per JSON column present in the after image
    b.write(bitmapBytes(Array(true)))
    b.write(imageBytes(r, cols, full, hints,
      overrides = Map(jsonIdx -> diffBytes)))
    sealEvent(tsSec, PARTIAL_UPDATE_ROWS, seq, b.toByteArray)
  }

  /** [[render]] with `binlog_row_value_options=PARTIAL_JSON` framing:
    * update rows whose `diffCol` is non-null render as type-39
    * PARTIAL_UPDATE_ROWS events — FULL before image carrying
    * `beforeCol`'s pre-change document, after image shipping the diff
    * list — everything else renders as plain v2 events. Exactly ONE
    * Json-hinted column is the diffable surface (the partial_bits
    * bitmap is per JSON column; one keeps the fixture honest and the
    * decode exercised). `diffCol` is `array<struct<op int, path
    * string, value string>>` (value null for REMOVE). */
  def renderPartialJson(df: DataFrame, cols: Seq[(String, DataType)],
      outDir: String, files: Int = 4, table: String = "orders",
      hints: Map[String, WireHint] = Map.empty,
      beforeCol: String = "_jbefore",
      diffCol: String = "_jdiff"): Unit = {
    validateCols(cols, hints)
    validateTableName(table)
    require(files >= 1, "at least one binlog file")
    val jsonCols = cols.zipWithIndex.collect {
      case ((n, _), i) if hints.get(n).contains(WireHint.Json) => i }
    require(jsonCols.length == 1,
      s"renderPartialJson needs exactly one Json-hinted column, got " +
        s"${jsonCols.length}")
    val jsonIdx = jsonCols.head
    clearDir(outDir)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    val colsB = cols
    val tableB = table
    val hintsB = hints
    val jsonIdxB = jsonIdx
    val ordered = df.select(
      (Seq(col("op"), col("seq"),
        col("ts").cast(TimestampNTZType).as("ts")) ++
        colsB.map { case (n, _) => col(n) } ++
        Seq(col(beforeCol), col(diffCol))): _*)
    ordered.repartition(files).foreachPartition {
      (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = new java.io.ByteArrayOutputStream()
        out.write(Magic)
        out.write(fdeEvent())
        out.write(tableMapEvent(tableB, colsB, hints = hintsB))
        val w = 3 + colsB.length
        it.foreach { r =>
          val base = Row.fromSeq(r.toSeq.take(w))
          if (r.getString(0) == "U" && !r.isNullAt(w + 1)) {
            val diffs = r.getSeq[Row](w + 1).map { d =>
              (d.getInt(0), d.getString(1),
                Option(d.getString(2)))
            }.toSeq
            out.write(rowsEventPartialJson(base, colsB, jsonIdxB,
              r.getString(w), diffs, hintsB))
          } else out.write(rowsEvent(base, colsB, hints = hintsB))
        }
        out.write(rotateEvent(f"bin.${pid + 1}%06d"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, f"bin.$pid%06d"),
          out.toByteArray)
        ()
    }
  }

  private def bitmapBytes(mask: Array[Boolean]): Array[Byte] = {
    val out = new Array[Byte]((mask.length + 7) / 8)
    mask.indices.foreach(i => if (mask(i))
      out(i / 8) = (out(i / 8) | (1 << (i % 8))).toByte)
    out
  }

  /** One MINIMAL-row-image event: inserts carry full images (the
    * format's own rule), updates carry a PK-only before image and a
    * changed-columns-only after image (the row's trailing
    * changed-name list names them), deletes carry the PK-only before
    * image. The row layout is `(op, seq, ts, <cols…>, changed)` —
    * [[renderMinimal]]'s select order. */
  private[graft] def rowsEventMinimal(r: Row,
      cols: Seq[(String, DataType)], pkIdx: Array[Int],
      tableId: Long = 108L,
      hints: Map[String, WireHint] = Map.empty): Array[Byte] = {
    val op = r.getString(0)
    val seq = r.getLong(1)
    val ldt = r.getAs[java.time.LocalDateTime](2)
    require(ldt.getNano == 0,
      s"binlog headers are second-granular; event at seq $seq carries " +
        s"sub-second time ($ldt) the format would silently floor — " +
        "refuse instead")
    val tsSec = ldt.toEpochSecond(java.time.ZoneOffset.UTC)
    val full = Array.fill(cols.length)(true)
    val pkMask = {
      val m = Array.fill(cols.length)(false)
      pkIdx.foreach(m(_) = true)
      m
    }
    def changedMask: Array[Boolean] = {
      val names = r.getSeq[String](3 + cols.length)
      require(names != null && names.nonEmpty,
        s"MINIMAL update at seq $seq carries no changed-column list")
      val m = Array.fill(cols.length)(false)
      names.foreach { n =>
        val i = cols.indexWhere(_._1 == n)
        require(i >= 0, s"changed column '$n' is not in the TABLE_MAP")
        m(i) = true
      }
      m
    }
    val b = new java.io.ByteArrayOutputStream()
    var tid = tableId
    (0 until 6).foreach { _ => b.write((tid & 0xff).toInt); tid >>= 8 }
    u16(b, 1) // flags: STMT_END_F
    u16(b, 2) // v2 extra-data length
    packed(b, cols.length.toLong)
    op match {
      case "I" =>
        b.write(bitmapBytes(full))
        b.write(imageBytes(r, cols, full, hints))
        sealEvent(tsSec, WRITE_ROWS_V2, seq, b.toByteArray)
      case "U" =>
        val after = changedMask
        b.write(bitmapBytes(pkMask))
        b.write(bitmapBytes(after))
        b.write(imageBytes(r, cols, pkMask, hints))
        b.write(imageBytes(r, cols, after, hints))
        sealEvent(tsSec, UPDATE_ROWS_V2, seq, b.toByteArray)
      case "D" =>
        b.write(bitmapBytes(pkMask))
        b.write(imageBytes(r, cols, pkMask, hints))
        sealEvent(tsSec, DELETE_ROWS_V2, seq, b.toByteArray)
      case other => throw new IllegalArgumentException(
        s"cannot render op '$other' as a binlog row event")
    }
  }

  /** [[render]] in `binlog_row_image=MINIMAL` shape — the
    * [[parse]]`(changedCol)` fixture writer: the frame carries a
    * changed-name array column (`changedCol`), updates write PK-only
    * before images and changed-only after images, deletes PK-only
    * before images. Real wire bytes, so the MINIMAL decode path is
    * exercised end to end including its identity merge. */
  def renderMinimal(df: DataFrame, cols: Seq[(String, DataType)],
      outDir: String, files: Int = 4, table: String = "orders",
      pkCols: Seq[String] = Seq("okey"),
      changedCol: String = "_changed",
      hints: Map[String, WireHint] = Map.empty): Unit = {
    validateCols(cols, hints)
    validateTableName(table)
    require(files >= 1, "at least one binlog file")
    require(pkCols.nonEmpty, "MINIMAL images need at least one PK column")
    val pkIdx = pkCols.map { n =>
      val i = cols.indexWhere(_._1 == n)
      require(i >= 0, s"PK column '$n' is not in the TABLE_MAP")
      i
    }.toArray
    clearDir(outDir)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    val colsB = cols
    val tableB = table
    val pkIdxB = pkIdx
    val hintsB = hints
    val ordered = df.select(
      (Seq(col("op"), col("seq"),
        col("ts").cast(TimestampNTZType).as("ts")) ++
        colsB.map { case (n, _) => col(n) } :+ col(changedCol)): _*)
    ordered.repartition(files).foreachPartition {
      (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = new java.io.ByteArrayOutputStream()
        out.write(Magic)
        out.write(fdeEvent())
        out.write(tableMapEvent(tableB, colsB, hints = hintsB))
        it.foreach { r =>
          out.write(rowsEventMinimal(r, colsB, pkIdxB, hints = hintsB)) }
        out.write(rotateEvent(f"bin.${pid + 1}%06d"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, f"bin.$pid%06d"),
          out.toByteArray)
        ()
    }
  }

  // ── temporal wire packings (public binlog 5.6+ layouts) ──────────

  /** DATE: `(year << 9) | (month << 5) | day`, 3 bytes LE; all-zero
    * parts are the storable zero date. */
  private def writeDate3(b: java.io.ByteArrayOutputStream,
      y: Int, m: Int, d: Int): Unit = {
    val v = (y << 9) | (m << 5) | d
    b.write(v & 0xff); b.write((v >> 8) & 0xff); b.write((v >> 16) & 0xff)
  }

  private def writeBe(b: java.io.ByteArrayOutputStream, v: Long,
      n: Int): Unit =
    (n - 1 to 0 by -1).foreach(i => b.write(((v >> (8 * i)) & 0xff).toInt))

  /** DATETIME2's 5-byte big-endian integer part: sign bit (1 =
    * non-negative), 17 bits `year*13 + month`, 5 bits day, 5 hour,
    * 6 minute, 6 second. */
  private def packDatetime2(y: Int, mo: Int, d: Int, h: Int, mi: Int,
      s: Int): Long =
    (1L << 39) | ((y * 13L + mo) << 22) | (d.toLong << 17) |
      (h.toLong << 12) | (mi.toLong << 6) | s.toLong

  /** Fractional-seconds byte count for an fsp (1-2 → 1, 3-4 → 2,
    * 5-6 → 3 big-endian bytes, value scaled to fsp digits). */
  private def fracLen(fsp: Int): Int = (fsp + 1) / 2

  private def writeFrac(b: java.io.ByteArrayOutputStream, micros: Long,
      fsp: Int): Unit =
    if (fsp > 0) {
      var scaled = micros
      (fsp until 6).foreach(_ => scaled /= 10)
      writeBe(b, scaled, fracLen(fsp))
    }

  private val DateTextRe = """(\d{4})-(\d{2})-(\d{2})""".r
  private val DateTimeTextRe =
    """(\d{4})-(\d{2})-(\d{2}) (\d{2}):(\d{2}):(\d{2})""".r

  /** One row image under a columns-present MASK: null bitmap over the
    * PRESENT columns (indexed in presence order, exactly how the
    * decoder reads it back), then the present non-null values in
    * TABLE_MAP order. The FULL-image path passes an all-true mask;
    * the MINIMAL renderer masks to PK / changed positions. */
  private def imageBytes(r: Row, cols: Seq[(String, DataType)],
      mask: Array[Boolean],
      hints: Map[String, WireHint] = Map.empty,
      overrides: Map[Int, Array[Byte]] = Map.empty): Array[Byte] = {
    import WireHint._
    val b = new java.io.ByteArrayOutputStream()
    val presentIdx = cols.indices.filter(mask(_)).toArray
    val nulls = new Array[Byte]((presentIdx.length + 7) / 8)
    presentIdx.zipWithIndex.foreach { case (ci, pj) =>
      if (r.isNullAt(ci + 3) && !overrides.contains(ci)) nulls(pj / 8) =
        (nulls(pj / 8) | (1 << (pj % 8))).toByte
    }
    b.write(nulls)
    presentIdx.foreach { i =>
      val (n, t) = cols(i)
      // pre-encoded value bytes (the partial-JSON renderer's diff
      // lists) bypass the per-type encoding
      if (overrides.contains(i)) b.write(overrides(i))
      else if (!r.isNullAt(i + 3)) (t, hints.get(n)) match {
        case (LongType, Some(SetBits(m))) =>
          val v = r.getLong(i + 3)
          require(v >= 0 && (m == 64 || v < (1L << m)),
            s"SET mask $v for '$n' overflows its $m members")
          var x = v
          (0 until (m + 7) / 8).foreach { _ =>
            b.write((x & 0xff).toInt); x >>= 8 }
        case (LongType, Some(SetNamed(vs))) =>
          val m = vs.size
          val v = r.getLong(i + 3)
          require(v >= 0 && (m == 64 || v < (1L << m)),
            s"SET mask $v for '$n' overflows its $m members")
          var x = v
          (0 until (m + 7) / 8).foreach { _ =>
            b.write((x & 0xff).toInt); x >>= 8 }
        case (LongType, Some(Bit(bits))) =>
          val v = r.getLong(i + 3)
          require(v >= 0 && (bits == 64 || v < (1L << bits)),
            s"BIT value $v for '$n' overflows BIT($bits)")
          writeBe(b, v, (bits + 7) / 8)
        case (LongType, Some(Unsigned)) =>
          val v = r.getLong(i + 3)
          require(v >= 0 && v <= 0xffffffffL,
            s"value $v for '$n' overflows INT UNSIGNED — refuse " +
              "instead of truncating")
          var x = v
          (0 until 4).foreach { _ => b.write((x & 0xff).toInt); x >>= 8 }
        case (LongType, _) =>
          var v = r.getLong(i + 3)
          (0 until 8).foreach { _ => b.write((v & 0xff).toInt); v >>= 8 }
        case (IntegerType, Some(Unsigned)) =>
          val v = r.getInt(i + 3)
          require(v >= 0 && v <= 0xffff,
            s"value $v for '$n' overflows SMALLINT UNSIGNED — refuse " +
              "instead of truncating")
          b.write(v & 0xff); b.write((v >> 8) & 0xff)
        case (IntegerType, Some(TimeSeconds)) =>
          val s = r.getInt(i + 3)
          // the TIME wire names at most 838:59:59; the Int32 mapping
          // here is non-negative seconds since midnight
          require(s >= 0 && s <= 838 * 3600 + 59 * 60 + 59,
            s"TIME seconds $s for '$n' is outside 0..838:59:59 — " +
              "refuse instead of wrapping")
          writeBe(b, (1L << 23) | ((s / 3600L) << 12) |
            ((s / 60 % 60L) << 6) | (s % 60L), 3)
        case (IntegerType, Some(MediumInt)) =>
          val v = r.getInt(i + 3)
          require(v >= -8388608 && v <= 8388607,
            s"value $v for '$n' overflows MEDIUMINT — refuse instead " +
              "of truncating")
          b.write(v & 0xff); b.write((v >> 8) & 0xff)
          b.write((v >> 16) & 0xff)
        case (IntegerType, _) =>
          var v = r.getInt(i + 3).toLong
          (0 until 4).foreach { _ => b.write((v & 0xff).toInt); v >>= 8 }
        case (ShortType, Some(Year)) =>
          val y = r.getShort(i + 3).toInt
          require(y == 0 || (y >= 1901 && y <= 2155),
            s"YEAR value $y for '$n' is outside 1901..2155 (or 0)")
          b.write(if (y == 0) 0 else y - 1900)
        case (ShortType, Some(Unsigned)) =>
          val v = r.getShort(i + 3).toInt
          require(v >= 0 && v <= 0xff,
            s"value $v for '$n' overflows TINYINT UNSIGNED — refuse " +
              "instead of truncating")
          b.write(v)
        case (ShortType, _) =>
          val v = r.getShort(i + 3).toInt
          b.write(v & 0xff); b.write((v >> 8) & 0xff)
        case (ByteType, _) => b.write(r.getByte(i + 3).toInt & 0xff)
        case (FloatType, _) =>
          var v = java.lang.Float.floatToIntBits(r.getFloat(i + 3)).toLong
          (0 until 4).foreach { _ => b.write((v & 0xff).toInt); v >>= 8 }
        case (DoubleType, _) =>
          var v = java.lang.Double.doubleToLongBits(r.getDouble(i + 3))
          (0 until 8).foreach { _ => b.write((v & 0xff).toInt); v >>= 8 }
        case (StringType, Some(Enum(vs))) =>
          val s = r.getString(i + 3)
          val idx = if (s.isEmpty) 0 else {
            val j = vs.indexOf(s)
            require(j >= 0,
              s"value '$s' for '$n' is not in the declared ENUM list " +
                s"(${vs.mkString(", ")}) — refuse instead of storing " +
                "the invalid-value 0")
            j + 1
          }
          if (vs.size <= 255) b.write(idx) else u16(b, idx)
        case (StringType, Some(Json)) =>
          val doc = MySqlJsonb.encode(r.getString(i + 3),
            s"JSON render for '$n'")
          u32(b, doc.length.toLong)
          b.write(doc)
        case (StringType, Some(Char(l))) =>
          val s = r.getString(i + 3).getBytes("UTF-8")
          require(s.length <= l,
            s"CHAR value for '$n' exceeds its declared $l bytes " +
              s"(${s.length}) — refuse instead of truncating")
          if (l < 256) b.write(s.length) else u16(b, s.length)
          b.write(s)
        case (StringType, Some(DateText)) =>
          r.getString(i + 3) match {
            case DateTextRe(y, m, d) =>
              writeDate3(b, y.toInt, m.toInt, d.toInt)
            case other => throw new IllegalArgumentException(
              s"raw DATE text '$other' for '$n' is not yyyy-MM-dd — " +
                "refuse instead of storing garbage")
          }
        case (StringType, Some(DateTimeText)) =>
          r.getString(i + 3) match {
            case DateTimeTextRe(y, mo, d, h, mi, s) =>
              writeBe(b, packDatetime2(y.toInt, mo.toInt, d.toInt,
                h.toInt, mi.toInt, s.toInt), 5)
            case other => throw new IllegalArgumentException(
              s"raw DATETIME text '$other' for '$n' is not " +
                "yyyy-MM-dd HH:mm:ss — refuse instead of storing garbage")
          }
        case (StringType, Some(Text)) =>
          // MUST precede (StringType, _): a TEXT column's TABLE_MAP
          // metadata declares a 2-byte length prefix (meta.write(2))
          // and this frame is its image-side twin — routing TEXT
          // through the VARCHAR fallback is byte-identical only by
          // coincidence today and would silently diverge if either
          // frame changed
          val t2 = r.getString(i + 3).getBytes("UTF-8")
          require(t2.length <= 65535,
            s"TEXT value for '$n' exceeds this renderer's 2-byte " +
              "length prefix")
          u16(b, t2.length)
          b.write(t2)
        case (StringType, _) =>
          val s = r.getString(i + 3).getBytes("UTF-8")
          require(s.length <= 65535,
            s"string value for '$n' exceeds the VARCHAR wire limit " +
              s"(${s.length} bytes) — refuse instead of truncating")
          u16(b, s.length)
          b.write(s)
        case (BinaryType, Some(Charset(_))) =>
          val s2 = r.getAs[Array[Byte]](i + 3)
          require(s2.length <= 65535,
            s"text value for '$n' exceeds the VARCHAR wire limit")
          u16(b, s2.length)
          b.write(s2)
        case (BinaryType, Some(Geometry)) =>
          // 4-byte length prefix (the TABLE_MAP's declared width),
          // then the SRID+WKB bytes verbatim
          val s = r.getAs[Array[Byte]](i + 3)
          u32(b, s.length.toLong)
          b.write(s)
        case (BinaryType, Some(RawText)) =>
          val s = r.getAs[Array[Byte]](i + 3)
          require(s.length <= 65535,
            s"raw text value for '$n' exceeds the VARCHAR wire limit")
          u16(b, s.length)
          b.write(s)
        case (BinaryType, _) =>
          val s = r.getAs[Array[Byte]](i + 3)
          require(s.length <= 65535,
            s"BLOB value for '$n' exceeds this renderer's 2-byte " +
              s"length prefix (${s.length} bytes)")
          u16(b, s.length)
          b.write(s)
        case (DateType, _) =>
          val ld = r.get(i + 3) match {
            case d: java.sql.Date => d.toLocalDate
            case d: java.time.LocalDate => d
            case other => throw new IllegalArgumentException(
              s"unexpected DATE external value $other for '$n'")
          }
          writeDate3(b, ld.getYear, ld.getMonthValue, ld.getDayOfMonth)
        case (TimestampNTZType, _) =>
          val ldt = r.getAs[java.time.LocalDateTime](i + 3)
          writeBe(b, packDatetime2(ldt.getYear, ldt.getMonthValue,
            ldt.getDayOfMonth, ldt.getHour, ldt.getMinute,
            ldt.getSecond), 5)
          writeFrac(b, ldt.getNano / 1000L, 6)
        case (TimestampType, _) =>
          val (sec, micros) = r.get(i + 3) match {
            case ts: java.sql.Timestamp =>
              (Math.floorDiv(ts.getTime, 1000L), ts.getNanos / 1000L)
            case ins: java.time.Instant =>
              (ins.getEpochSecond, ins.getNano / 1000L)
            case other => throw new IllegalArgumentException(
              s"unexpected TIMESTAMP external value $other for '$n'")
          }
          require(sec >= 0 && sec <= 0xffffffffL,
            s"TIMESTAMP for '$n' is outside the wire's unsigned 32-bit " +
              s"epoch seconds ($sec) — refuse instead of truncating")
          writeBe(b, sec, 4)
          writeFrac(b, micros, 6)
        case (_: DecimalType, Some(Unsigned)) =>
          val bi = r.getDecimal(i + 3).toBigInteger
          require(bi.signum() >= 0 && bi.bitLength() <= 64,
            s"value $bi for '$n' is outside BIGINT UNSIGNED's " +
              "0..2^64-1 — refuse instead of truncating")
          var v = bi.longValue() // the low 64 bits ARE the value
          (0 until 8).foreach { _ => b.write((v & 0xff).toInt); v >>= 8 }
        case (d: DecimalType, _) =>
          b.write(encodeDecimal(r.getDecimal(i + 3), d.precision, d.scale))
        case (other, h) => throw new IllegalArgumentException(
          s"unsupported render type $other (hint $h)") // precluded
      }
    }
    b.toByteArray
  }

  private def wireType(t: DataType, hint: Option[WireHint]): Int = {
    import WireHint._
    (t, hint) match {
      case (LongType, Some(SetBits(_))) => T_STRING // ENUM/SET carrier
      case (LongType, Some(SetNamed(_))) => T_STRING
      case (LongType, Some(Bit(_))) => T_BIT
      case (LongType, Some(Unsigned)) => T_LONG // INT UNSIGNED
      case (LongType, _) => T_LONGLONG
      case (IntegerType, Some(TimeSeconds)) => T_TIME2
      case (IntegerType, Some(MediumInt)) => T_INT24
      case (IntegerType, Some(Unsigned)) => T_SHORT // SMALLINT UNSIGNED
      case (IntegerType, _) => T_LONG
      case (ShortType, Some(Year)) => T_YEAR
      case (ShortType, Some(Unsigned)) => T_TINY // TINYINT UNSIGNED
      case (ShortType, _) => T_SHORT
      case (d: DecimalType, Some(Unsigned)) => T_LONGLONG // BIGINT UNSIGNED
      case (ByteType, _) => T_TINY
      case (FloatType, _) => T_FLOAT
      case (DoubleType, _) => T_DOUBLE
      case (StringType, Some(Enum(_))) => T_STRING // meta names ENUM
      case (StringType, Some(Json)) => T_JSON
      case (StringType, Some(Char(_))) => T_STRING
      case (StringType, Some(DateText)) => T_DATE
      case (StringType, Some(DateTimeText)) => T_DATETIME2
      case (StringType, Some(Text)) => T_BLOB
      case (StringType, _) => T_VARCHAR
      case (BinaryType, Some(Geometry)) => T_GEOMETRY
      case (BinaryType, Some(RawText)) => T_VARCHAR
      case (BinaryType, Some(Charset(_))) => T_VARCHAR
      case (BinaryType, _) => T_BLOB
      case (DateType, _) => T_DATE
      case (TimestampNTZType, _) => T_DATETIME2
      case (TimestampType, _) => T_TIMESTAMP2
      case (_: DecimalType, _) => T_NEWDECIMAL
      case (other, h) => throw new IllegalArgumentException(
        s"unsupported wire type $other (hint $h)")
    }
  }

  private def packed(b: java.io.ByteArrayOutputStream, v: Long): Unit =
    if (v < 251) b.write(v.toInt)
    else if (v < 65536) { b.write(0xfc); u16(b, v.toInt) }
    else if (v < 16777216) {
      b.write(0xfd); b.write((v & 0xff).toInt)
      b.write(((v >> 8) & 0xff).toInt); b.write(((v >> 16) & 0xff).toInt)
    } else { b.write(0xfe); u32(b, v & 0xffffffffL); u32(b, v >>> 32) }

  // ── MySQL NEWDECIMAL binary codec ────────────────────────────────
  // digits pack in groups of 9 per 4 big-endian bytes, partial lead/
  // tail groups in the minimal byte count; positive numbers flip the
  // first byte's top bit, negative numbers store the complement. The
  // public decimal2bin layout every binlog decoder implements.

  private val Dig2Bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

  private[graft] def decimalBinSize(precision: Int, scale: Int): Int = {
    val intg = precision - scale
    intg / 9 * 4 + Dig2Bytes(intg % 9) +
      scale / 9 * 4 + Dig2Bytes(scale % 9)
  }

  private[graft] def encodeDecimal(x: java.math.BigDecimal,
      precision: Int, scale: Int): Array[Byte] = {
    val neg = x.signum() < 0
    val abs = x.abs().setScale(scale, java.math.RoundingMode.UNNECESSARY)
    require(abs.precision() - abs.scale() <= precision - scale,
      s"decimal $x overflows DECIMAL($precision,$scale)")
    val intg = precision - scale
    val digits = abs.movePointRight(scale).toBigInteger.toString
    val all = ("0" * (intg + scale - digits.length)) + digits
    val b = new java.io.ByteArrayOutputStream(
      decimalBinSize(precision, scale))
    def writeGroup(ds: String): Unit = {
      if (ds.nonEmpty) {
        var v = ds.toLong
        val n = Dig2Bytes(ds.length)
        val bytes = new Array[Byte](n)
        (n - 1 to 0 by -1).foreach { i =>
          bytes(i) = (v & 0xff).toByte; v >>= 8
        }
        b.write(bytes)
      }
    }
    val leadLen = intg % 9
    writeGroup(all.substring(0, leadLen))
    var o = leadLen
    (0 until intg / 9).foreach { _ =>
      writeGroup(all.substring(o, o + 9)); o += 9 }
    (0 until scale / 9).foreach { _ =>
      writeGroup(all.substring(o, o + 9)); o += 9 }
    writeGroup(all.substring(o))
    val out = b.toByteArray
    if (neg) out.indices.foreach(i => out(i) = (~out(i)).toByte)
    out(0) = (out(0) ^ 0x80).toByte
    out
  }

  private[graft] def decodeDecimal(buf: Array[Byte], off: Int,
      precision: Int, scale: Int): java.math.BigDecimal = {
    val size = decimalBinSize(precision, scale)
    val b = java.util.Arrays.copyOfRange(buf, off, off + size)
    val neg = (b(0) & 0x80) == 0
    b(0) = (b(0) ^ 0x80).toByte
    if (neg) b.indices.foreach(i => b(i) = (~b(i)).toByte)
    val intg = precision - scale
    val sb = new StringBuilder
    var o = 0
    def readGroup(nDigits: Int): Unit = if (nDigits > 0) {
      val n = Dig2Bytes(nDigits)
      var v = 0L
      (0 until n).foreach { i => v = (v << 8) | (b(o + i) & 0xffL) }
      o += n
      val s = v.toString
      require(s.length <= nDigits,
        s"decimal group overflows its digit count ($v in $nDigits)")
      sb.append("0" * (nDigits - s.length)).append(s)
      ()
    }
    readGroup(intg % 9)
    (0 until intg / 9).foreach(_ => readGroup(9))
    val intStr = if (sb.isEmpty) "0" else sb.result()
    sb.clear()
    (0 until scale / 9).foreach(_ => readGroup(9))
    readGroup(scale % 9)
    val fracStr = sb.result()
    val s = intStr + (if (fracStr.nonEmpty) "." + fracStr else "")
    val v = new java.math.BigDecimal(s)
    if (neg) v.negate() else v
  }

  // ── parsing ──────────────────────────────────────────────────────

  private def rdU16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def rdU32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def rdI32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def rdI64(b: Array[Byte], o: Int): Long = {
    var v = 0L
    (7 to 0 by -1).foreach(i => v = (v << 8) | (b(o + i) & 0xffL))
    v
  }

  private final class Cursor(val b: Array[Byte], var o: Int,
      val end: Int, val what: String) {
    def need(n: Int): Unit = require(o + n <= end,
      s"$what: truncated at offset $o (need $n bytes, have ${end - o})")
    def u8(): Int = { need(1); val v = b(o) & 0xff; o += 1; v }
    def u16(): Int = { need(2); val v = rdU16(b, o); o += 2; v }
    def skip(n: Int): Unit = { need(n); o += n }
    def packed(): Long = {
      val first = u8()
      if (first < 251) first.toLong
      else if (first == 0xfc) u16().toLong
      else if (first == 0xfd) {
        need(3)
        val v = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
          ((b(o + 2) & 0xffL) << 16)
        o += 3; v
      } else { need(8); val v = rdI64(b, o); o += 8; v }
    }
  }

  /** One declared table's wire decode plan, validated against the
    * TABLE_MAP the file itself carries. `unsigned` comes from the
    * SIGNEDNESS optional metadata (all-signed when absent — the
    * pre-8.0.1 shape); `enumVals` per column from the ENUM_STR_VALUE
    * metadata or the caller's hint. */
  private final case class WireCols(types: Array[Int], metas: Array[Int],
      unsigned: Array[Boolean] = Array.empty,
      enumVals: Map[Int, Seq[String]] = Map.empty,
      charsets: Map[Int, Int] = Map.empty,
      setVals: Map[Int, Seq[String]] = Map.empty) {
    def isUnsigned(i: Int): Boolean =
      unsigned.nonEmpty && unsigned(i)
    /** A text column's Java charset per the TABLE_MAP metadata —
      * UTF-8 when the dump carries none (the pre-8.0.1 posture).
      * None = collation 63 (binary): no text reading exists. */
    def textCharset(i: Int, name: String, path: String): Option[String] =
      charsets.get(i) match {
        case None => Some("UTF-8")
        case Some(id) => MySqlCharsets.javaName(id).getOrElse(
          throw new IllegalArgumentException(
            s"$path: column '$name' carries MySQL collation id $id, " +
              "which this decoder has no Java charset for — extend " +
              "MySqlCharsets, or declare the column BinaryType and " +
              "transcode downstream"))
      }
  }

  /** One column's TABLE_MAP metadata value — the per-type width/pack
    * rules shared by the decode branch and the standalone metadata
    * extractors (one stepping rule; a width added here gates both). */
  private def readColMeta(c: Cursor, wireType: Int): Int =
    wireType match {
      case T_FLOAT | T_DOUBLE => c.u8()
      case T_VARCHAR | T_VAR_STRING => c.u16()
      case T_NEWDECIMAL => { val p = c.u8(); (p << 8) | c.u8() }
      case T_TIME2 | T_DATETIME2 | T_TIMESTAMP2 => c.u8()
      case T_BLOB | T_JSON | T_GEOMETRY => c.u8()
      case T_BIT =>
        // (bits % 8, whole bytes) → total bits
        { val b0 = c.u8(); val b1 = c.u8(); b1 * 8 + b0 }
      case T_STRING => { val m0 = c.u8(); (m0 << 8) | c.u8() }
      case _ => 0 // fixed-width integer/temporal types
    }

  /** Unfold a STRING-slot column's 2-byte metadata: ENUM/SET ride the
    * STRING wire type with their REAL type in the first metadata byte
    * and their pack length in the second; a true CHAR splits its
    * max byte length across the two (the server XORs the length's
    * high bits into the type byte — the public do_save_field_metadata
    * encoding). Returns (real type, pack-or-max length). */
  private def stringMeta(meta: Int): (Int, Int) = {
    val m0 = meta >> 8
    val m1 = meta & 0xff
    if (m0 == T_ENUM || m0 == T_SET) (m0, m1)
    else if ((m0 & 0x30) != 0x30)
      (T_STRING, m1 | (((m0 & 0x30) ^ 0x30) << 4))
    else (T_STRING, m1)
  }

  /** The ONE event-stream walk behind every extractor (row decode, DDL
    * statements, GTID index, Xids): magic check, per-event header and
    * size validation, FDE-first discipline, per-event CRC32 when the
    * FDE declares it — a validation added here gates every consumer.
    * `handler` receives (eventType, tsSec, logPos, eventOffset,
    * bodyEnd-exclusive-of-checksum). Returns the LAST event's type —
    * the streaming tail's torn-rotation signal (a finished rotation
    * ends with ROTATE, a clean shutdown with STOP). */
  private def walkEvents(bytes: Array[Byte], path: String)(
      handler: (Int, Long, Long, Int, Int) => Unit): Int = {
    // MySQL 8 binlog_encryption=ON swaps the magic to \xFD bin and
    // encrypts everything after the header — name the real cause
    // instead of failing as "bad magic" on a file the operator CAN fix
    require(!(bytes.length >= 4 && (bytes(0) & 0xff) == 0xfd &&
      bytes(1) == 'b' && bytes(2) == 'i' && bytes(3) == 'n'),
      s"$path is an ENCRYPTED binlog (binlog_encryption=ON, magic " +
        "\\xFD bin) — the event stream is undecodable without the " +
        "server's keyring; decrypt by re-dumping through mysqlbinlog " +
        "on the server, or disable binlog_encryption")
    require(bytes.length >= 4 &&
      java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(bytes, 0, 4), Magic),
      s"$path is not a binlog file (bad magic)")
    var o = 4
    var checksummed = false
    var sawFde = false
    var lastType = -1
    while (o < bytes.length) {
      require(bytes.length - o >= HeaderLen,
        s"$path: truncated event header at offset $o " +
          s"(${bytes.length - o} trailing bytes)")
      val tsSec = rdU32(bytes, o)
      val eventType = bytes(o + 4) & 0xff
      val size = rdU32(bytes, o + 9).toInt
      val logPos = rdU32(bytes, o + 13)
      require(size >= HeaderLen && o + size <= bytes.length,
        s"$path: event at offset $o declares size $size beyond the " +
          s"file's ${bytes.length} bytes — truncated or corrupt")
      // MariaDB binlog_encryption=ON announces itself mid-stream: a
      // START_ENCRYPTION event, after which every byte is ciphertext.
      // Skipping it (the unknown-type rule) would surface the
      // encrypted remainder as generic truncation/CRC garbage — name
      // the real cause at the announcement instead.
      require(eventType != START_ENCRYPTION_MARIA,
        s"$path: START_ENCRYPTION event at offset $o — the rest of " +
          "this binlog is encrypted (binlog_encryption=ON) and cannot " +
          "decode without the server's key file; decrypt by re-dumping " +
          "through mysqlbinlog on the server, or disable " +
          "binlog_encryption")
      if (!sawFde) {
        require(eventType == FORMAT_DESCRIPTION,
          s"$path: first event is type $eventType, not a " +
            "FORMAT_DESCRIPTION — not a binlog head (a mid-stream " +
            "slice cannot declare its checksum algorithm)")
        // the FDE field reads below use fixed offsets (version,
        // header_length, the alg byte at size-5) — a corrupt size
        // smaller than the minimal FDE would otherwise read past the
        // event with a bare index error instead of the named refusal
        require(size >= HeaderLen + 2 + 50 + 4 + 1 + 1 + 4,
          s"$path: FORMAT_DESCRIPTION event declares size $size — " +
            "smaller than the minimal v4 FDE; truncated or corrupt")
        require(rdU16(bytes, o + HeaderLen) == 4,
          s"$path: binlog version ${rdU16(bytes, o + HeaderLen)} — " +
            "only v4 decodes")
        require((bytes(o + HeaderLen + 2 + 50 + 4) & 0xff) == HeaderLen,
          s"$path: FDE declares a non-19-byte common header")
        val alg = bytes(o + size - 5) & 0xff
        require(alg == 0 || alg == 1,
          s"$path: unknown checksum algorithm $alg (0=off, 1=CRC32)")
        checksummed = alg == 1
        sawFde = true
      }
      val bodyEnd = if (checksummed) {
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, o, size - 4)
        val stored = rdU32(bytes, o + size - 4)
        require(crc.getValue == stored,
          f"$path: CRC32 mismatch on event at offset $o (type " +
            f"$eventType): computed 0x${crc.getValue}%08x, stored " +
            f"0x$stored%08x — the file is corrupt; refuse rather than " +
            "decode garbage")
        o + size - 4
      } else o + size
      handler(eventType, tsSec, logPos, o, bodyEnd)
      lastType = eventType
      o += size
    }
    lastType
  }

  // (PARTIAL_UPDATE_ROWS — binlog_row_value_options=PARTIAL_JSON —
  // decodes for real as of round 19: the event carries before+after
  // image pairs, and the JSON diffs apply against the before image's
  // own document at decode, exactly how mysqlbinlog resolves them.
  // See the PARTIAL_UPDATE_ROWS branch of the routed decode.)

  /** Row-event decode over [[walkEvents]]. `emitMarkers` additionally
    * surfaces each Xid event as an `op = "C"` commit-marker row (seq =
    * the Xid's position, ts = its header clock, payload NULL) — the
    * [[parseTxn]] shape. `requireRotate` is the streaming tail's
    * torn-rotation gate: the file's LAST event must be ROTATE (a
    * finished rotation) or STOP (a clean shutdown), or the file is an
    * in-flight snapshot whose remainder the file source would never
    * re-read. */
  private def decodeFile(bytes: Array[Byte], path: String,
      cols: Seq[(String, DataType)], emitMarkers: Boolean = false,
      requireRotate: Boolean = false,
      changedCol: Option[String] = None,
      hints: Map[String, WireHint] = Map.empty,
      rowsQueryCol: Option[String] = None,
      heartbeats: Boolean = false): Iterator[Row] = {
    val marker =
      if (emitMarkers)
        Some((p: Long, t: java.time.LocalDateTime) =>
          Row.fromSeq(Seq("C", p, t) ++ cols.map(_ => null) ++
            changedCol.map(_ => null) ++ rowsQueryCol.map(_ => null)))
      else None
    val heartbeat =
      if (heartbeats)
        Some((p: Long, t: java.time.LocalDateTime) =>
          Row.fromSeq(Seq("H", p, t) ++ cols.map(_ => null) ++
            changedCol.map(_ => null) ++ rowsQueryCol.map(_ => null)))
      else None
    decodeFileRouted(bytes, path,
      // the single-table decode accepts ANY table name (a single-table
      // dump's TABLE_MAPs all name the same table — the text path's
      // posture); arity/type validation still refuses a stale declaration
      route = _ => DecodeAs(cols, "", hints),
      emit = (_, op, p, t, vals, changed, rq) => Row.fromSeq(
        Seq(op, p, t) ++ vals ++ changedCol.map(_ => changed) ++
          rowsQueryCol.map(_ => rq)),
      marker = marker,
      requireRotate = requireRotate,
      minimal = changedCol.isDefined,
      heartbeat = heartbeat)
  }

  /** Decode a BARE event stream — event bytes with no leading 4-byte
    * magic, which is exactly what the `BINLOG '…'` base64 statements
    * of a NON-VERBOSE text dump carry once decoded and concatenated
    * (the first statement holds the FDE, so the stream self-describes
    * its checksum algorithm like any binlog head). The text side
    * ([[BinlogText.parseNonVerbose]]) extracts and base64-decodes the
    * payloads; this is the shared wire decode underneath — CRC
    * verification, TABLE_MAP validation, and every refusal identical
    * to the raw-file path. */
  private[sources] def decodeEventStream(eventBytes: Array[Byte],
      path: String, cols: Seq[(String, DataType)],
      changedCol: Option[String] = None,
      emitMarkers: Boolean = false,
      hints: Map[String, WireHint] = Map.empty,
      heartbeats: Boolean = false): Iterator[Row] =
    decodeFile(Magic ++ eventBytes, path, cols, emitMarkers = emitMarkers,
      changedCol = changedCol, hints = hints, heartbeats = heartbeats)

  /** How the routed decode treats one TABLE_MAP's table: decode its
    * row events against declared columns (`tag` flavors refusal
    * messages with the table name on the multi path), or skip them —
    * a DECLARED exclusion, never a silent drop (an unroutable table
    * throws inside the route closure itself). */
  private sealed trait TableRoute
  private final case class DecodeAs(cols: Seq[(String, DataType)],
      tag: String,
      hints: Map[String, WireHint] = Map.empty) extends TableRoute
  private case object SkipTable extends TableRoute

  /** The decode core shared by the single- and multi-table paths:
    * walk a file's events, register each TABLE_MAP under its table id
    * — routed through `route` by the table NAME the event carries on
    * the wire (the binary format's own dispatch key; the text path
    * has to read it off verb lines) — validate the wire plan against
    * the routed declaration, and decode row events positionally under
    * their registered map. Row events for a skipped table cost ZERO
    * body work: events are size-addressed, so the walk jumps straight
    * to the next header. `emit` shapes the output row (single
    * envelope vs union envelope); `marker` (when set) surfaces each
    * Xid as a commit-marker row — the txn-gate shape. */
  private def decodeFileRouted(bytes: Array[Byte], path: String,
      route: String => TableRoute,
      emit: (String, String, Long, java.time.LocalDateTime, Seq[Any],
        Seq[String], String) => Row,
      marker: Option[(Long, java.time.LocalDateTime) => Row],
      requireRotate: Boolean,
      minimal: Boolean = false,
      heartbeat: Option[(Long, java.time.LocalDateTime) => Row] =
        None): Iterator[Row] = {
    val out = Vector.newBuilder[Row]
    // table id -> None (declared-skipped) | Some(table, cols, wire, hints)
    var tableMaps = Map.empty[Long, Option[(String,
      Seq[(String, DataType)], WireCols, Map[String, WireHint])]]
    // the statement's original SQL (binlog_rows_query_log_events=ON):
    // a ROWS_QUERY event precedes its statement's row events; the
    // text rides them until the statement/transaction closes (the
    // next ROWS_QUERY, Query statement boundary, or Xid) — null
    // between statements, exactly what the audit column serves
    var rowsQueryText: String = null
    // one handler for OUTER events and the events INSIDE a
    // TRANSACTION_PAYLOAD (binlog_transaction_compression=ON wraps a
    // whole transaction — TABLE_MAPs included — in one compressed
    // event): `src` is the file bytes or the inflated payload, and
    // inner events carry NO per-event checksum (the outer event's
    // CRC already covered them)
    def handle(src: Array[Byte], eventType: Int, tsSec: Long,
        logPos: Long, o: Int, bodyEnd: Int,
        inPayload: Boolean): Unit = eventType match {
        case TABLE_MAP =>
          val c = new Cursor(src, o + HeaderLen, bodyEnd,
            s"$path TABLE_MAP at $o")
          c.need(6)
          var tid = 0L
          (0 until 6).foreach(i => tid |= (c.b(c.o + i) & 0xffL) << (8 * i))
          c.skip(6); c.skip(2) // table_id, flags
          val dbLen = c.u8(); c.skip(dbLen + 1)
          val tbLen = c.u8()
          c.need(tbLen)
          val table = new String(c.b, c.o, tbLen, "UTF-8")
          c.skip(tbLen + 1)
          route(table) match {
            case SkipTable => tableMaps += tid -> None
            case DecodeAs(cols, tag, hints) =>
              import WireHint._
              val n = c.packed().toInt
              require(n == cols.length,
                s"$path: TABLE_MAP declares $n columns but the caller " +
                  s"declared ${cols.length}$tag — the declaration is " +
                  "stale; refuse rather than mis-decode positional values")
              val types = new Array[Int](n)
              (0 until n).foreach(i => types(i) = c.u8())
              val metaLen = c.packed().toInt
              val metaEnd = c.o + metaLen
              c.need(metaLen)
              val metas = new Array[Int](n)
              (0 until n).foreach(i => metas(i) = readColMeta(c, types(i)))
              require(c.o == metaEnd,
                s"$path: TABLE_MAP metadata length $metaLen does not " +
                  "match its types — corrupt or an unsupported type's " +
                  "metadata")
              // OPTIONAL METADATA (8.0.1+ TLV after the null bits):
              // SIGNEDNESS drives the unsigned decode, COLUMN_NAME
              // upgrades validation from positional to by-name,
              // ENUM_STR_VALUE makes the dump self-describing (no
              // value-list hint needed). Unknown fields length-skip —
              // the format's own forward-compat rule.
              c.skip((n + 7) / 8) // null bits (decode-irrelevant here)
              var unsignedBits = Array.empty[Boolean]
              var wireNames = Seq.empty[String]
              // ENUM value lists arrive as BYTES in the value list's
              // OWN charset (the table's enum/set charset, fields
              // 10/11 — which the server writes AFTER field 6), so
              // they hold raw here and decode after the TLV loop
              var wireEnumRaw = Vector.empty[Seq[Array[Byte]]]
              var wireSetRaw = Vector.empty[Seq[Array[Byte]]]
              var charsetDefault = -1L
              var charsetPairs = Map.empty[Int, Int] // char ordinal -> id
              var charsetPerCol = Vector.empty[Int] // COLUMN_CHARSET list
              var esDefault = -1L // ENUM_AND_SET_DEFAULT_CHARSET
              var esPairs = Map.empty[Int, Int] // enum/set ordinal -> id
              var esPerCol = Vector.empty[Int] // ENUM_AND_SET_COLUMN_CHARSET
              while (c.o < c.end) {
                val ft = c.u8()
                val flen = c.packed().toInt
                val fend = c.o + flen
                c.need(flen)
                ft match {
                  case 2 => // DEFAULT_CHARSET + exception pairs
                    charsetDefault = c.packed()
                    while (c.o < fend) {
                      val ord = c.packed().toInt
                      charsetPairs += ord -> c.packed().toInt
                    }
                  case 3 => // COLUMN_CHARSET: one id per character col
                    val ids = Vector.newBuilder[Int]
                    while (c.o < fend) ids += c.packed().toInt
                    charsetPerCol = ids.result()
                  case 1 => // SIGNEDNESS: MSB-first bit per numeric col
                    val bytes = java.util.Arrays.copyOfRange(
                      c.b, c.o, fend)
                    val numCount = types.count(NumericWireTypes.contains)
                    require(bytes.length == (numCount + 7) / 8,
                      s"$path: SIGNEDNESS metadata carries " +
                        s"${bytes.length} bytes for $numCount numeric " +
                        "columns — corrupt")
                    unsignedBits = Array.tabulate(numCount)(bi =>
                      (bytes(bi / 8) & (0x80 >> (bi % 8))) != 0)
                  case 4 => // COLUMN_NAME
                    val names = Vector.newBuilder[String]
                    while (c.o < fend) {
                      val ln = c.packed().toInt
                      c.need(ln)
                      names += new String(c.b, c.o, ln, "UTF-8")
                      c.o += ln
                    }
                    wireNames = names.result()
                  case 5 => // SET_STR_VALUE: per SET column in order
                    val lists = Vector.newBuilder[Seq[Array[Byte]]]
                    while (c.o < fend) {
                      val cnt = c.packed().toInt
                      val vs = Vector.newBuilder[Array[Byte]]
                      (0 until cnt).foreach { _ =>
                        val ln = c.packed().toInt
                        c.need(ln)
                        vs += java.util.Arrays.copyOfRange(c.b, c.o,
                          c.o + ln)
                        c.o += ln
                      }
                      lists += vs.result()
                    }
                    wireSetRaw = lists.result()
                  case 6 => // ENUM_STR_VALUE: per ENUM column in order
                    val lists = Vector.newBuilder[Seq[Array[Byte]]]
                    while (c.o < fend) {
                      val cnt = c.packed().toInt
                      val vs = Vector.newBuilder[Array[Byte]]
                      (0 until cnt).foreach { _ =>
                        val ln = c.packed().toInt
                        c.need(ln)
                        vs += java.util.Arrays.copyOfRange(c.b, c.o,
                          c.o + ln)
                        c.o += ln
                      }
                      lists += vs.result()
                    }
                    wireEnumRaw = lists.result()
                  case 10 => // ENUM_AND_SET_DEFAULT_CHARSET + pairs
                    esDefault = c.packed()
                    while (c.o < fend) {
                      val ord = c.packed().toInt
                      esPairs += ord -> c.packed().toInt
                    }
                  case 11 => // ENUM_AND_SET_COLUMN_CHARSET
                    val ids = Vector.newBuilder[Int]
                    while (c.o < fend) ids += c.packed().toInt
                    esPerCol = ids.result()
                  case 7 => // GEOMETRY_TYPE: one packed type per
                    // GEOMETRY column — counted against the wire plan
                    // (the decode is WKB passthrough either way, so
                    // the type id itself rides uninterpreted)
                    val ids = Vector.newBuilder[Int]
                    while (c.o < fend) ids += c.packed().toInt
                    val geoCount = types.count(_ == T_GEOMETRY)
                    require(ids.result().length == geoCount,
                      s"$path: GEOMETRY_TYPE metadata carries " +
                        s"${ids.result().length} entries for " +
                        s"$geoCount GEOMETRY columns — corrupt")
                  case 12 => // COLUMN_VISIBILITY (8.0.23 invisible
                    // columns): MSB-first bit per column; INVISIBLE
                    // columns still ride row images, so the decode is
                    // unchanged — the bitmap is validated, not acted on
                    require(fend - c.o == (n + 7) / 8,
                      s"$path: COLUMN_VISIBILITY metadata carries " +
                        s"${fend - c.o} bytes for $n columns — corrupt")
                  case _ => () // PK fields ride extractTableMapPk;
                    // unknown/future fields length-skip (the format's
                    // own forward-compat rule)
                }
                c.o = fend
              }
              // map the numeric-order signedness bits onto column order
              val unsigned = {
                val out = new Array[Boolean](n)
                if (unsignedBits.nonEmpty) {
                  var bi = 0
                  (0 until n).foreach { i =>
                    if (NumericWireTypes.contains(types(i))) {
                      out(i) = unsignedBits(bi); bi += 1
                    }
                  }
                }
                out
              }
              // per-COLUMN charset from the character-ordinal fields
              val charsets: Map[Int, Int] = {
                val charIdx = (0 until n).filter(i =>
                  isCharacterCol(types(i), metas(i)))
                if (charsetPerCol.nonEmpty) {
                  require(charsetPerCol.length == charIdx.length,
                    s"$path: COLUMN_CHARSET metadata carries " +
                      s"${charsetPerCol.length} ids for " +
                      s"${charIdx.length} character columns — corrupt")
                  charIdx.zip(charsetPerCol).toMap
                } else if (charsetDefault >= 0)
                  charIdx.zipWithIndex.map { case (ci, ord) =>
                    ci -> charsetPairs.getOrElse(ord,
                      charsetDefault.toInt)
                  }.toMap
                else Map.empty
              }
              if (wireNames.nonEmpty) {
                require(wireNames.length == n,
                  s"$path: COLUMN_NAME metadata names " +
                    s"${wireNames.length} columns for an $n-column " +
                    "table — corrupt")
                cols.zipWithIndex.foreach { case ((name, _), i) =>
                  require(wireNames(i) == name,
                    s"$path: TABLE_MAP column @${i + 1} is named " +
                      s"'${wireNames(i)}' on the wire but declared " +
                      s"'$name'$tag — the declaration is stale " +
                      "(renamed or reordered); refuse rather than " +
                      "mis-decode by position")
                }
              }
              val (enumValsByCol, setValsByCol) = {
                val enumIdx = (0 until n).filter(i =>
                  types(i) == T_STRING &&
                    stringMeta(metas(i))._1 == T_ENUM)
                val setIdx = (0 until n).filter(i =>
                  types(i) == T_STRING &&
                    stringMeta(metas(i))._1 == T_SET)
                require(wireEnumRaw.isEmpty ||
                  wireEnumRaw.length == enumIdx.length,
                  s"$path: ENUM_STR_VALUE metadata carries " +
                    s"${wireEnumRaw.length} value lists for " +
                    s"${enumIdx.length} ENUM columns — corrupt")
                require(wireSetRaw.isEmpty ||
                  wireSetRaw.length == setIdx.length,
                  s"$path: SET_STR_VALUE metadata carries " +
                    s"${wireSetRaw.length} member lists for " +
                    s"${setIdx.length} SET columns — corrupt")
                // the value-list bytes decode through the table's
                // ENUM/SET charset metadata (fields 10/11, ordinals
                // over the enum+set columns in column order) — the
                // same mojibake class DEFAULT_CHARSET fixes for
                // column text; UTF-8 when the dump carries none (the
                // pre-8.0.1 posture)
                val esIdx = (0 until n).filter { i =>
                  types(i) == T_STRING && {
                    val rt = stringMeta(metas(i))._1
                    rt == T_ENUM || rt == T_SET
                  }
                }
                require(esPerCol.isEmpty ||
                  esPerCol.length == esIdx.length,
                  s"$path: ENUM_AND_SET_COLUMN_CHARSET metadata " +
                    s"carries ${esPerCol.length} ids for " +
                    s"${esIdx.length} ENUM/SET columns — corrupt")
                def listCharset(ci: Int): String = {
                  val ord = esIdx.indexOf(ci)
                  val id: Option[Int] =
                    if (esPerCol.nonEmpty) Some(esPerCol(ord))
                    else if (esDefault >= 0)
                      Some(esPairs.getOrElse(ord, esDefault.toInt))
                    else None
                  id match {
                    case None => "UTF-8"
                    case Some(cid) =>
                      MySqlCharsets.javaName(cid) match {
                        case None => throw new IllegalArgumentException(
                          s"$path: ENUM column @${ci + 1} declares " +
                            s"value-list collation id $cid, which " +
                            "this decoder has no Java charset for — " +
                            "extend MySqlCharsets or hint the value " +
                            "list explicitly")
                        case Some(None) =>
                          throw new IllegalArgumentException(
                            s"$path: ENUM column @${ci + 1} declares " +
                              "its value list BINARY (collation 63) " +
                              "— an ENUM's members are text by " +
                              "construction; the metadata is corrupt")
                        case Some(Some(cs)) => cs
                      }
                  }
                }
                (enumIdx.zipWithIndex.flatMap { case (ci, ei) =>
                  wireEnumRaw.lift(ei).map { raw =>
                    val cs = listCharset(ci)
                    ci -> raw.map(b => new String(b, cs))
                  }
                }.toMap,
                  setIdx.zipWithIndex.flatMap { case (ci, si) =>
                    wireSetRaw.lift(si).map { raw =>
                      val cs = listCharset(ci)
                      val members = raw.map(b => new String(b, cs))
                      require(members.size >= 1 && members.size <= 64 &&
                        (members.size + 7) / 8 ==
                          stringMeta(metas(ci))._2,
                        s"$path: SET column @${ci + 1} declares " +
                          s"${members.size} members but its pack " +
                          s"length is ${stringMeta(metas(ci))._2} " +
                          "bytes — the metadata is stale or corrupt")
                      ci -> members
                    }
                  }.toMap)
              }
              // validate the wire plan against the declared Spark types
              // (+ hints where the wire underdetermines the decode —
              // raw-text temporal decode is a caller's choice; ENUM
              // value lists come from the hint OR the wire metadata)
              cols.zipWithIndex.foreach { case ((name, dt), i) =>
                val hint = hints.get(name)
                val ok = (types(i), dt) match {
                  case (T_LONGLONG, LongType) => !unsigned(i)
                  case (T_LONGLONG, d: DecimalType) =>
                    // BIGINT UNSIGNED: the UINT64 convention
                    unsigned(i) && d.precision == 20 && d.scale == 0
                  case (T_LONG, IntegerType) => !unsigned(i)
                  case (T_LONG, LongType) => unsigned(i)
                  case (T_INT24, IntegerType) => true // both fit Int
                  case (T_TINY, ByteType) => !unsigned(i)
                  case (T_TINY, ShortType) => unsigned(i)
                  case (T_SHORT, ShortType) => !unsigned(i)
                  case (T_SHORT, IntegerType) => unsigned(i)
                  case (T_YEAR, ShortType) => true
                  case (T_FLOAT, FloatType) => metas(i) == 4
                  case (T_DOUBLE, DoubleType) => metas(i) == 8
                  case (T_VARCHAR | T_VAR_STRING, StringType) => true
                  // a text column's raw bytes, charset decoded at apply
                  case (T_VARCHAR | T_VAR_STRING, BinaryType) => true
                  case (T_NEWDECIMAL, d: DecimalType) =>
                    (metas(i) >> 8) == d.precision &&
                      (metas(i) & 0xff) == d.scale
                  case (T_DATE | T_NEWDATE, DateType) => true
                  case (T_DATE | T_NEWDATE, StringType) =>
                    hint.contains(DateText)
                  case (T_DATETIME2, TimestampNTZType) => metas(i) <= 6
                  case (T_DATETIME2, StringType) =>
                    hint.contains(DateTimeText) && metas(i) == 0
                  case (T_TIMESTAMP2, TimestampType) => metas(i) <= 6
                  case (T_TIME2, IntegerType) => metas(i) <= 6
                  case (T_BIT, LongType) =>
                    metas(i) >= 1 && metas(i) <= 64
                  case (T_BLOB, BinaryType) =>
                    metas(i) >= 1 && metas(i) <= 4
                  // TEXT: a charset-bearing BLOB read as text
                  case (T_BLOB, StringType) =>
                    metas(i) >= 1 && metas(i) <= 4
                  case (T_JSON, StringType) =>
                    metas(i) >= 1 && metas(i) <= 4
                  case (T_GEOMETRY, BinaryType) =>
                    metas(i) >= 1 && metas(i) <= 4
                  case (T_GEOMETRY, other) =>
                    // name the type: "wire type 255" reads as a stale
                    // declaration, but the fix is a different one
                    throw new IllegalArgumentException(
                      s"$path: TABLE_MAP column @${i + 1} is a " +
                        s"GEOMETRY column but '$name' is declared " +
                        s"${other.simpleString}$tag — GEOMETRY " +
                        "decodes as its SRID+WKB bytes VERBATIM; " +
                        "declare BinaryType (there is no text " +
                        "reading of WKB to serve)")
                  case (T_STRING, _) => stringMeta(metas(i)) match {
                    case (T_ENUM, packLen) => dt == StringType &&
                      (packLen == 1 || packLen == 2) &&
                      (hint.exists(_.isInstanceOf[Enum]) ||
                        enumValsByCol.contains(i))
                    case (T_SET, packLen) =>
                      (packLen >= 1 && packLen <= 8) &&
                        (dt == LongType ||
                          // StringType: MySQL's comma-joined member
                          // text, decodable only when the dump's
                          // SET_STR_VALUE names the members
                          (dt == StringType &&
                            setValsByCol.contains(i)))
                    case (_, maxLen) => dt == StringType && maxLen <= 1023
                  }
                  case _ => false
                }
                require(ok,
                  s"$path: TABLE_MAP column @${i + 1} is wire type " +
                    s"${types(i)} (meta ${metas(i)}" +
                    (if (unsigned(i)) ", UNSIGNED" else "") +
                    s") but '$name' is declared ${dt.simpleString}" +
                    hint.fold("")(h => s" with hint $h") + tag +
                    " — the declaration is stale (UNSIGNED integers " +
                    "declare the next-wider type per WireHint.Unsigned; " +
                    "an ENUM needs its value list from WireHint.Enum or " +
                    "the dump's binlog_row_metadata=FULL; a raw-text " +
                    "DATE/DATETIME its DateText/DateTimeText hint); " +
                    "refuse rather than mis-decode")
              }
              tableMaps += tid -> Some((table, cols,
                WireCols(types, metas, unsigned, enumValsByCol,
                  charsets, setValsByCol), hints))
          }
        case WRITE_ROWS_V2 | UPDATE_ROWS_V2 | DELETE_ROWS_V2 |
          PARTIAL_UPDATE_ROWS | WRITE_ROWS_COMPRESSED_MARIA |
          UPDATE_ROWS_COMPRESSED_MARIA | DELETE_ROWS_COMPRESSED_MARIA =>
          val compressedMaria =
            eventType >= WRITE_ROWS_COMPRESSED_MARIA &&
              eventType <= DELETE_ROWS_COMPRESSED_MARIA
          val c = new Cursor(src, o + HeaderLen, bodyEnd,
            s"$path row event at $o")
          c.need(6)
          var tid = 0L
          (0 until 6).foreach(i => tid |= (c.b(c.o + i) & 0xffL) << (8 * i))
          val routed = tableMaps.getOrElse(tid,
            throw new IllegalArgumentException(
              s"$path: row event at offset $o references table id $tid " +
                "with no preceding TABLE_MAP — a mid-stream slice; " +
                "refuse rather than guess the column layout"))
          routed match {
            case None => () // declared-skipped table; size-addressed jump
            case Some((table, cols, wire, hints)) =>
              val isUpdate = eventType == UPDATE_ROWS_V2 ||
                eventType == PARTIAL_UPDATE_ROWS ||
                eventType == UPDATE_ROWS_COMPRESSED_MARIA
              c.skip(6); c.skip(2) // table_id, flags
              // MariaDB's compressed row events are V1-shaped: no v2
              // extra-data field rides between flags and column count
              if (!compressedMaria) {
                val extraLen = c.u16()
                require(extraLen >= 2,
                  s"$path: row event v2 extra-data length $extraLen < 2")
                c.skip(extraLen - 2)
              }
              val n = c.packed().toInt
              require(n == cols.length,
                s"$path: row event declares width $n, TABLE_MAP " +
                  s"${cols.length}")
              val present1 = readBitmap(c, n)
              val present2 =
                if (isUpdate) readBitmap(c, n)
                else present1
              val op = eventType match {
                case WRITE_ROWS_V2 | WRITE_ROWS_COMPRESSED_MARIA => "I"
                case UPDATE_ROWS_V2 | PARTIAL_UPDATE_ROWS |
                  UPDATE_ROWS_COMPRESSED_MARIA => "U"
                case _ => "D"
              }
              if (!minimal)
                // a PARTIAL columns-present bitmap is binlog_row_image=
                // MINIMAL: absent columns are "unchanged", NOT NULL —
                // decoding them as NULL and letting a latest-wins
                // collapse apply them is the silently-diverged-replica
                // class. Without a declared changed-list surface (the
                // changedCol parameter), refuse by name rather than
                // mis-decode.
                require(present1.forall(identity) &&
                  present2.forall(identity),
                  s"$path: row event at offset $o carries a PARTIAL " +
                    "columns-present bitmap (binlog_row_image=MINIMAL) " +
                    "— absent columns mean 'unchanged', not NULL; " +
                    "declare changedCol to decode MINIMAL dumps, or " +
                    "re-dump with binlog_row_image=FULL")
              else if (op == "I")
                // MINIMAL inserts carry full images by definition (the
                // changed-list marker for inserts is null = complete) —
                // a partial insert bitmap has no honest decode
                require(present1.forall(identity),
                  s"$path: row event at offset $o is an INSERT with a " +
                    "PARTIAL columns-present bitmap — MINIMAL inserts " +
                    "carry full images by definition; the dump is " +
                    "corrupt")
              val time = java.time.LocalDateTime.ofEpochSecond(
                tsSec, 0, java.time.ZoneOffset.UTC)
              // the changed-position list (the text path's changedList
              // rule): inserts null = complete; deletes list their
              // before-image positions (MINIMAL deletes are PK-only —
              // visibly partial to history consumers); updates list
              // their after-image positions
              val changed: Seq[String] =
                if (!minimal) null
                else op match {
                  case "I" => null
                  case "D" => cols.indices.collect {
                    case i if present1(i) => cols(i)._1 }
                  case _ => cols.indices.collect {
                    case i if present2(i) => cols(i)._1 }
                }
              // MariaDB compression: header byte + declared length +
              // one zlib stream replacing the ROW IMAGES (the
              // post-header, column count, and bitmaps stay clear) —
              // inflate and read the rows from the inflated cursor,
              // one image grammar for both framings
              val rc =
                if (compressedMaria) inflateMariaRows(c, path)
                else c
              // rows repeat until the body ends (multi-row statements)
              while (rc.o < rc.end) {
                val first = readImage(rc, cols, wire, present1, hints,
                  path = path)
                val replicating =
                  if (!isUpdate) first
                  else {
                    // PARTIAL_UPDATE_ROWS (binlog_row_value_options=
                    // PARTIAL_JSON): the after image opens with a
                    // packed value_options field; when its
                    // PARTIAL_JSON bit is set, a partial_bits bitmap
                    // (one bit per JSON column present in the after
                    // image, in column order) marks which JSON values
                    // arrive as DIFF LISTS instead of documents —
                    // applied here against the BEFORE image's own
                    // document (the pair the event itself carries)
                    val partialJson: Set[Int] =
                      if (eventType != PARTIAL_UPDATE_ROWS) Set.empty
                      else {
                        val vo = rc.packed()
                        if ((vo & 1L) == 0) Set.empty
                        else {
                          val jsonCols = cols.indices.filter(i =>
                            present2(i) && wire.types(i) == T_JSON)
                          val bits = readBitmap(rc, jsonCols.length)
                          jsonCols.zipWithIndex.collect {
                            case (ci, bi) if bits(bi) => ci }.toSet
                        }
                      }
                    val second = readImage(rc, cols, wire, present2,
                      hints, partialJson, first, path)
                    if (!minimal) second // FULL: the after image wins
                    else
                      // MINIMAL update: the after image carries only
                      // the changed columns; identity positions merge
                      // in from the before image, after winning any
                      // overlap — the text path's `where ++ set` rule
                      cols.indices.map(i =>
                        if (present2(i)) second(i)
                        else if (present1(i)) first(i)
                        else null)
                  }
                out += emit(table, op, logPos, time, replicating,
                  changed, rowsQueryText)
              }
          }
        case ANNOTATE_ROWS_MARIA =>
          // MariaDB's audit twin of ROWS_QUERY
          // (binlog_annotate_row_events=ON): the body IS the
          // statement text, no leading length byte
          require(bodyEnd > o + HeaderLen,
            s"$path: empty ANNOTATE_ROWS event at offset $o — corrupt")
          rowsQueryText = new String(src, o + HeaderLen,
            bodyEnd - (o + HeaderLen), "UTF-8")
        case ROWS_QUERY =>
          // payload: one legacy length byte (ignored — the text runs
          // to the event end; the byte caps at 255 and real queries
          // overrun it), then the statement's original SQL
          require(bodyEnd - (o + HeaderLen) >= 1,
            s"$path: empty ROWS_QUERY event at offset $o — corrupt")
          rowsQueryText = new String(src, o + HeaderLen + 1,
            bodyEnd - (o + HeaderLen + 1), "UTF-8")
        case XID =>
          rowsQueryText = null // transaction closed
          if (marker.isDefined)
            out += marker.get(logPos,
              java.time.LocalDateTime.ofEpochSecond(tsSec, 0,
                java.time.ZoneOffset.UTC))
        case QUERY | QUERY_COMPRESSED_MARIA =>
          rowsQueryText = null // statement boundary (BEGIN/COMMIT/DDL)
        case HEARTBEAT if heartbeat.isDefined =>
          // master keep-alive: a position-only pulse (socket streams
          // only — servers never write type 27 to binlog FILES).
          // Surfaced as the op = "H" envelope row the pass's
          // heartbeats=true gate consumes; skipped unless opted in
          // (the pre-round-20 posture)
          out += heartbeat.get(logPos,
            java.time.LocalDateTime.ofEpochSecond(tsSec, 0,
              java.time.ZoneOffset.UTC))
        case TRANSACTION_PAYLOAD =>
          require(!inPayload,
            s"$path: nested TRANSACTION_PAYLOAD at offset $o — the " +
              "format does not nest; corrupt")
          val inner = inflatePayload(src, path, o + HeaderLen, bodyEnd)
          walkInnerEvents(inner, path, logPos,
            wrapperStart = logPos - rdU32(src, o + 9)) {
            (it, its, ipos, io, iEnd) =>
              handle(inner, it, its, ipos, io, iEnd, inPayload = true)
          }
        case _ => () // Query/Xid/Gtid/Rotate/Stop/FDE: verified, skipped
    }
    val lastType = walkEvents(bytes, path) {
      (eventType, tsSec, logPos, o, bodyEnd) =>
        handle(bytes, eventType, tsSec, logPos, o, bodyEnd,
          inPayload = false)
    }
    if (requireRotate)
      require(lastType == ROTATE || lastType == STOP,
        s"$path does not end with a ROTATE or STOP event (last event " +
          s"type: $lastType) — an in-flight or torn rotation snapshot; " +
          "stage rotations atomically (write elsewhere, then rename " +
          "into the tailed dir) or disable requireRotate")
    out.result().iterator
  }

  /** The table's PRIMARY KEY as the dump itself declares it — the
    * SIMPLE_PRIMARY_KEY optional-metadata field (TLV 8, MySQL 8.0.1+
    * `binlog_row_metadata=FULL`) resolved to column NAMES through the
    * COLUMN_NAME field, from every TABLE_MAP in the dump. This closes
    * the trust gap on the collapse's identity the way COLUMN_NAME
    * closed it for column order: today every pass collapses by
    * caller-declared `keyCols`; a FULL-metadata dump can VALIDATE that
    * declaration ([[requirePrimaryKey]]) or replace it (pass this
    * result as `keyCols`). Refusals, all by name: a dump without the
    * PK metadata (re-dump with binlog_row_metadata=FULL), PK metadata
    * without COLUMN_NAME (indices with no names to resolve through),
    * a PRIMARY_KEY_WITH_PREFIX table (TLV 9 — a prefix-indexed key
    * part identifies a row by a column FRAGMENT; no honest column
    * list expresses that collapse), and TABLE_MAPs that disagree
    * mid-dump (a PK redefinition inside the window — ambiguous
    * identity; split the window at the DDL). Distributed per file;
    * only (table, pk) tuples collect. */
  def parsePrimaryKey(spark: SparkSession, dir: String): Seq[String] = {
    import org.apache.spark.sql.Encoders
    val maps = spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        extractTableMapPk(r.getAs[Array[Byte]](0), r.getString(1))
          .map { case (t, pk) => (t, pk.mkString("\u0000")) }
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .collect().toSeq.distinct
    require(maps.nonEmpty,
      s"dump at $dir carries no SIMPLE_PRIMARY_KEY metadata on any " +
        "TABLE_MAP — the server did not self-describe its key; " +
        "re-dump with binlog_row_metadata=FULL or declare keyCols " +
        "explicitly")
    require(maps.length == 1,
      s"dump at $dir declares conflicting primary keys: " +
        maps.map { case (t, pk) =>
          s"'$t' -> (${pk.split('\u0000').mkString(", ")})"
        }.mkString("; ") +
        " — a PK redefinition (or a multi-table dump) inside this " +
        "window makes the collapse identity ambiguous; split the " +
        "window at the DDL (or use the multi-table surface)")
    maps.head._2.split('\u0000').toSeq
  }

  /** Validate a pass's declared `keyCols` against the dump's OWN
    * primary-key metadata — the wire says the identity is X, the pass
    * collapses by Y = a silently diverged replica; refuse naming
    * both. */
  def requirePrimaryKey(spark: SparkSession, dir: String,
      declared: Seq[String]): Unit = {
    val wire = parsePrimaryKey(spark, dir)
    require(wire == declared,
      s"dump at $dir declares PRIMARY KEY (${wire.mkString(", ")}) " +
        s"but the pass collapses by (${declared.mkString(", ")}) — " +
        "a key mismatch diverges the replica silently; fix keyCols " +
        "or re-dump the right table")
  }

  /** One file's TABLE_MAP primary-key declarations: `(table, pk
    * names)` per map that carries SIMPLE_PRIMARY_KEY metadata. Walks
    * the same event/metadata stepping as the decode (shared
    * [[readColMeta]]); prefix keys and missing names refuse here. */
  private def extractTableMapPk(bytes: Array[Byte],
      path: String): Iterator[(String, Seq[String])] = {
    val out = Vector.newBuilder[(String, Seq[String])]
    walkEvents(bytes, path) { (eventType, _, _, o, bodyEnd) =>
      if (eventType == TABLE_MAP) {
        val c = new Cursor(bytes, o + HeaderLen, bodyEnd,
          s"$path TABLE_MAP at $o")
        c.skip(6); c.skip(2) // table_id, flags
        val dbLen = c.u8(); c.skip(dbLen + 1)
        val tbLen = c.u8()
        c.need(tbLen)
        val table = new String(c.b, c.o, tbLen, "UTF-8")
        c.skip(tbLen + 1)
        val n = c.packed().toInt
        val types = new Array[Int](n)
        (0 until n).foreach(i => types(i) = c.u8())
        val metaLen = c.packed().toInt
        val metaEnd = c.o + metaLen
        c.need(metaLen)
        (0 until n).foreach(i => readColMeta(c, types(i)))
        require(c.o == metaEnd,
          s"$path: TABLE_MAP metadata length $metaLen does not match " +
            "its types — corrupt or an unsupported type's metadata")
        c.skip((n + 7) / 8) // null bits
        var names = Seq.empty[String]
        var pkIdx = Seq.empty[Int]
        var sawPk = false
        while (c.o < c.end) {
          val ft = c.u8()
          val flen = c.packed().toInt
          val fend = c.o + flen
          c.need(flen)
          ft match {
            case 4 => // COLUMN_NAME
              val nb = Vector.newBuilder[String]
              while (c.o < fend) {
                val ln = c.packed().toInt
                c.need(ln)
                nb += new String(c.b, c.o, ln, "UTF-8")
                c.o += ln
              }
              names = nb.result()
            case 8 => // SIMPLE_PRIMARY_KEY: packed column indices
              val ib = Vector.newBuilder[Int]
              while (c.o < fend) ib += c.packed().toInt
              pkIdx = ib.result()
              sawPk = true
            case 9 => throw new IllegalArgumentException(
              s"$path: table '$table' declares a " +
                "PRIMARY_KEY_WITH_PREFIX (a prefix-indexed key part, " +
                "e.g. PRIMARY KEY (col(10))) — a column-name list " +
                "cannot express a fragment identity; collapse by an " +
                "explicit keyCols declaration instead")
            case _ => () // other fields: length-skipped here
          }
          c.o = fend
        }
        if (sawPk) {
          require(names.nonEmpty,
            s"$path: table '$table' carries SIMPLE_PRIMARY_KEY " +
              "metadata but no COLUMN_NAME field — indices with no " +
              "names to resolve through; re-dump with " +
              "binlog_row_metadata=FULL")
          val pk = pkIdx.map { i =>
            require(i >= 0 && i < names.length,
              s"$path: table '$table' primary-key index $i is past " +
                s"its ${names.length} columns — corrupt metadata")
            names(i)
          }
          require(pk.nonEmpty,
            s"$path: table '$table' carries an EMPTY " +
              "SIMPLE_PRIMARY_KEY field — corrupt metadata")
          out += (table -> pk)
        }
      }
    }
    out.result().iterator
  }

  /** The dump's DDL QueryEvents as `(position, statement)` — the
    * binary analogue of [[BinlogText.parseDdl]], feeding the same
    * [[graft.streaming.DdlSql]] fold. Query-event payload: post-header
    * `thread_id(4) exec_time(4) schema_len(1) error_code(2)
    * status_vars_len(2)`, then the status vars, the schema name, a
    * NUL, and the statement text. Transaction punctuation
    * (BEGIN/COMMIT/ROLLBACK), session SETs, and USE noise skip — the
    * same filter as the text extractor. Distributed per file;
    * metadata-scale rows to the driver; position-sorted with the
    * in-file emission index as the tiebreak. */
  def parseDdl(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    import org.apache.spark.sql.Encoders
    spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        extractQueries(r.getAs[Array[Byte]](0), r.getString(1))
          .zipWithIndex.map { case ((p, s2), i) => (p, i.toLong, s2) }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.STRING))
      .collect().toSeq.sortBy(t => (t._1, t._2)).map(t => (t._1, t._3))
  }

  private def extractQueries(bytes: Array[Byte],
      path: String): Iterator[(Long, String)] = {
    val out = Vector.newBuilder[(Long, String)]
    walkEvents(bytes, path) { (eventType, _, logPos, o, bodyEnd) =>
      if (eventType == QUERY || eventType == QUERY_COMPRESSED_MARIA) {
        val c = new Cursor(bytes, o + HeaderLen, bodyEnd,
          s"$path QUERY event at $o")
        c.skip(4) // thread_id
        c.skip(4) // exec_time
        val schemaLen = c.u8()
        c.skip(2) // error_code
        val statusLen = c.u16()
        c.skip(statusLen)
        c.skip(schemaLen + 1) // schema name + NUL
        // MariaDB QUERY_COMPRESSED (log_bin_compress=ON): the
        // statement TEXT rides the same zlib block as compressed row
        // events — skipping it as an unknown type silently LOSES the
        // DDL stream on those servers
        val stmt = (if (eventType == QUERY_COMPRESSED_MARIA) {
          val rc = inflateMariaRows(c, path)
          new String(rc.b, 0, rc.end, "UTF-8")
        } else new String(bytes, c.o, bodyEnd - c.o, "UTF-8")).trim
        val head = stmt.takeWhile(!_.isWhitespace).toUpperCase
        val noise = Seq("BEGIN", "COMMIT", "ROLLBACK", "SET",
          "DELIMITER", "USE")
        if (stmt.nonEmpty && !noise.contains(head))
          out += (logPos -> stmt)
      }
    }
    out.result().iterator
  }

  /** The dump's GTID index — one `(position, source uuid, transaction
    * number)` per GTID event (type 33: `flags(1) sid(16) gno(8 LE)`,
    * trailing logical-timestamp fields ignored) — the binary analogue
    * of [[BinlogText.parseGtidIndex]], feeding the same position
    * codecs and [[parseTxn]] stamping. Distributed per file,
    * metadata-scale rows to the driver, position order. */
  def parseGtidIndex(spark: SparkSession,
      dir: String): Seq[(Long, String, Long)] = {
    import org.apache.spark.sql.Encoders
    spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r => extractGtids(r.getAs[Array[Byte]](0), r.getString(1))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
        Encoders.scalaLong))
      .collect().toSeq.sortBy(_._1)
  }

  /** Decode a GTID-set resume token against THIS raw dump's GTID
    * index — the binary transport's [[BinlogText.gtidStartAfter]]:
    * same shared boundary rule ([[BinlogText.gtidStartAfterIndex]]),
    * same channel-chain and contiguity refusals, so a replica can
    * anchor its resume on whichever wire format it tails. */
  def gtidStartAfter(spark: SparkSession, dir: String, token: String,
      channels: Seq[(String, Long)]): Long = {
    val idx = parseGtidIndex(spark, dir)
    require(idx.nonEmpty,
      s"dump at $dir carries no GTID events — this feed cannot " +
        "anchor a GTID resume; resume by seq instead")
    BinlogText.gtidStartAfterIndex(idx, token, channels)
  }

  /** Verify a rotation DIRECTORY's chain integrity — the lost-rotation
    * guard: a binlog file's trailing ROTATE event names the NEXT file
    * the server opened, so for every file in the dir (grouped by name
    * prefix, sorted by name) the announced successor must BE the next
    * file present. A hole (`bin.000002` missing between 000001 and
    * 000003) is silently lost change events — the silently-diverged-
    * replica class — and refuses naming the missing file. The LAST
    * file's announcement may point beyond the window (the tail still
    * being written, or rotated out of this batch's scope) — allowed;
    * a file ending in STOP (clean shutdown) or with no
    * announcement (an at-rest extract) closes its chain. Distributed
    * per file (each task reads its own announcement); only the
    * metadata-scale (file → successor) map collects. */
  def verifyRotationChain(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.Encoders
    val ann = spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        val name = r.getString(1).split('/').last
        Iterator((name, lastRotateTarget(
          r.getAs[Array[Byte]](0), r.getString(1)).getOrElse("")))
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .collect().toSeq
    // one shared chain rule with the text transport: per name family,
    // numeric suffix order, announced successor must be present
    BinlogText.verifyChain(ann)
  }

  /** The file's LAST event's ROTATE target, if its last event is a
    * ROTATE — the successor announcement [[verifyRotationChain]]
    * checks. */
  private def lastRotateTarget(bytes: Array[Byte],
      path: String): Option[String] = {
    var last: Option[String] = None
    walkEvents(bytes, path) { (eventType, _, _, o, bodyEnd) =>
      last = eventType match {
        case ROTATE =>
          // post-header: position(8 LE), then the next file name
          Some(new String(bytes, o + HeaderLen + 8,
            bodyEnd - (o + HeaderLen + 8), "UTF-8"))
        case _ => None
      }
    }
    last
  }

  /** [[extractGtids]] over a BARE event stream (no magic) — the
    * socket transport's GTID-index plug. */
  private[sources] def extractGtidsFromEvents(eventBytes: Array[Byte],
      path: String): Iterator[(Long, String, Long)] =
    extractGtids(Magic ++ eventBytes, path)

  private def extractGtids(bytes: Array[Byte],
      path: String): Iterator[(Long, String, Long)] = {
    val out = Vector.newBuilder[(Long, String, Long)]
    walkEvents(bytes, path) { (eventType, _, logPos, o, bodyEnd) =>
      if (eventType == GTID) {
        val c = new Cursor(bytes, o + HeaderLen, bodyEnd,
          s"$path GTID event at $o")
        c.skip(1) // commit flag
        c.need(16 + 8)
        val sid = java.util.Arrays.copyOfRange(c.b, c.o, c.o + 16)
        c.o += 16
        val gno = rdI64(c.b, c.o)
        c.o += 8
        require(gno >= 1,
          s"$path: GTID event at $o carries transaction number $gno — " +
            "GTID numbering starts at 1; corrupt event")
        out += ((logPos, formatUuid(sid), gno))
      }
    }
    out.result().iterator
  }

  /** The dump's MARIADB GTID index — one `(position, domain, server,
    * seqno)` per GTID event (type 162), validated against each file's
    * GTID_LIST rotation-head state (type 163): the list names what
    * was executed BEFORE the file, so a domain's first stamp in the
    * file must be exactly `listed + 1` and stamps within a domain
    * must increase by 1 — a jump is a lost rotation's transactions
    * (the silently-diverged-replica class) and refuses naming the
    * gap. Distributed per file, metadata-scale rows to the driver,
    * position order. */
  def parseGtidIndexMaria(spark: SparkSession,
      dir: String): Seq[(Long, Long, Long, Long)] = {
    import org.apache.spark.sql.Encoders
    spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        extractGtidsMaria(r.getAs[Array[Byte]](0), r.getString(1))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong))
      .collect().toSeq.sortBy(_._1)
  }

  private def extractGtidsMaria(bytes: Array[Byte],
      path: String): Iterator[(Long, Long, Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long, Long, Long)]
    // per-domain continuity floor: from the file's GTID_LIST head
    // state, then advanced by each stamp
    var floor = Map.empty[Long, Long]
    var sawList = false
    walkEvents(bytes, path) { (eventType, _, logPos, o, bodyEnd) =>
      if (eventType == GTID_LIST_MARIA) {
        val c = new Cursor(bytes, o + HeaderLen, bodyEnd,
          s"$path GTID_LIST at $o")
        c.need(4)
        val count = (rdU32(c.b, c.o) & 0x0fffffffL).toInt
        c.o += 4
        (0 until count).foreach { _ =>
          c.need(16)
          val d = rdU32(c.b, c.o)
          val n = rdI64(c.b, c.o + 8)
          c.o += 16
          floor += d -> n
        }
        sawList = true
      } else if (eventType == GTID_MARIA) {
        val c = new Cursor(bytes, o + HeaderLen, bodyEnd,
          s"$path MariaDB GTID at $o")
        c.need(12)
        val seqno = rdI64(c.b, c.o)
        val domain = rdU32(c.b, c.o + 8)
        val server = rdU32(bytes, o + 5) // common header's server_id
        require(seqno >= 1,
          s"$path: MariaDB GTID at $o carries seq $seqno — numbering " +
            "starts at 1; corrupt event")
        floor.get(domain).foreach { f =>
          require(seqno == f + 1,
            s"$path: domain $domain stamps seq $seqno after $f — " +
              (if (seqno > f + 1)
                s"transactions ${f + 1}..${seqno - 1} are MISSING " +
                  "(a lost rotation between the GTID_LIST state and " +
                  "this stream); restore the gap or re-snapshot"
               else "the stream regresses against its own executed " +
                 "state; the dump is corrupt"))
        }
        // an unlisted domain in a file WITH a head state is history
        // the list says never existed before — its first stamp must
        // open at 1
        if (sawList && !floor.contains(domain))
          require(seqno == 1,
            s"$path: domain $domain opens at seq $seqno but the " +
              "file's GTID_LIST head state does not name it — its " +
              "earlier transactions are missing; restore the gap or " +
              "re-snapshot")
        floor += domain -> seqno
        out += ((logPos, domain, server.toLong, seqno))
      }
    }
    out.result().iterator
  }

  /** [[gtidStartAfter]] under the MARIADB flavor — the binary twin of
    * [[BinlogText.gtidStartAfterMaria]], through the same shared
    * boundary core; a MySQL uuid-set token refuses naming the flavor
    * mismatch. */
  def gtidStartAfterMaria(spark: SparkSession, dir: String,
      token: String, domains: Seq[(Long, Long)]): Long = {
    val idx = parseGtidIndexMaria(spark, dir)
    require(idx.nonEmpty,
      s"dump at $dir carries no MariaDB GTID events — this feed " +
        "cannot anchor a GTID resume; resume by seq instead (or is " +
        "this a MySQL-flavored dump? its stamps are type-33 GTID " +
        "events)")
    BinlogText.gtidStartAfterIndexMaria(
      idx.map { case (p, d, _, n) => (p, d.toString, n) }, token, domains)
  }

  private def formatUuid(sid: Array[Byte]): String = {
    val hex = sid.map(b => f"${b & 0xff}%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-" +
      s"${hex.substring(12, 16)}-${hex.substring(16, 20)}-" +
      s"${hex.substring(20, 32)}"
  }

  /** The dump's COMMIT positions — `(position, header epoch seconds)`
    * per Xid event (payload: `xid(8 LE)`) — the binary
    * [[BinlogText.parseXids]]. */
  def parseXids(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    import org.apache.spark.sql.Encoders
    spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        val bytes = r.getAs[Array[Byte]](0)
        val path = r.getString(1)
        val out = Vector.newBuilder[(Long, Long)]
        walkEvents(bytes, path) {
          (eventType, tsSec, logPos, o, bodyEnd) =>
            if (eventType == XID) out += ((logPos, tsSec))
            // a compressed transaction's Xid rides INSIDE its
            // TRANSACTION_PAYLOAD — scan the inflated inner stream
            // too, or every compressed commit would go missing here
            else if (eventType == TRANSACTION_PAYLOAD) {
              val inner = inflatePayload(bytes, path,
                o + HeaderLen, bodyEnd)
              walkInnerEvents(inner, path, logPos,
                wrapperStart = logPos - rdU32(bytes, o + 9)) {
                (it, its, ipos, _, _) =>
                  if (it == XID) out += ((ipos, its))
              }
            }
        }
        out.result().iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect().toSeq.sortBy(_._1)
  }

  /** The dump as a TXN-GATED envelope — [[BinlogText.parseTxn]] from
    * raw wire bytes: row events stamped with their transaction's GTID
    * (`uuid:n`, the deepest GTID event at or below each row's
    * position — [[BinlogText.stampTxns]]'s broadcast binary search,
    * shared so the stamping rule can never fork between transports)
    * plus one `op = "C"` commit-marker row per Xid event, all emitted
    * in ONE distributed per-file decode (a single dump relation in the
    * returned plan; only the GTID index — one tiny row per transaction
    * — is an eager driver-side collect, to build the broadcast).
    * Exactly the shape `PassSpec(txnCol = …)` consumes: an
    * uncommitted trailing transaction (GTID event and rows, no Xid)
    * arrives marker-less and is held back by the gate. */
  def parseTxn(spark: SparkSession, dir: String,
      cols: Seq[(String, DataType)],
      txnCol: String = "txn",
      flavor: graft.Replication.GtidFlavor =
        graft.Replication.MySqlGtidFlavor): DataFrame = {
    require(!cols.exists(_._1 == txnCol) &&
      !Seq("op", "seq", "ts").contains(txnCol),
      s"txn column '$txnCol' collides with an envelope column")
    val stamps = flavor match {
      case graft.Replication.MySqlGtidFlavor =>
        val gtids = parseGtidIndex(spark, dir)
        require(gtids.nonEmpty,
          s"dump at $dir carries no GTID events — transactions cannot " +
            "be delimited; consume it as a plain stream instead (or " +
            "is this a MariaDB-flavored dump? its stamps are type-162 " +
            "events — pass MariaGtidFlavor)")
        gtids.map { case (p, u, n) => (p, s"$u:$n") }
      case graft.Replication.MariaGtidFlavor =>
        val gtids = parseGtidIndexMaria(spark, dir)
        require(gtids.nonEmpty,
          s"dump at $dir carries no MariaDB GTID events — " +
            "transactions cannot be delimited; consume it as a plain " +
            "stream instead (or is this a MySQL-flavored dump? its " +
            "stamps are type-33 events — pass MySqlGtidFlavor)")
        gtids.map { case (p, d, s2, n) => (p, s"$d-$s2-$n") }
    }
    val (schema, _) = BinlogText.singleEnvelope(cols, Nil, None,
      textTypes = false)
    val colsB = cols
    val frame = spark.read.format("binaryFile").load(dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        decodeFile(r.getAs[Array[Byte]](0), r.getString(1), colsB,
          emitMarkers = true)
      }(RowEncoder.encoderFor(schema))
      .toDF()
    BinlogText.stampTxns(spark, frame, stamps, txnCol)
  }

  /** [[parse]] as a STREAMING decode — the transport behind
    * [[BinlogBinaryCdcSource]]: tail `dir` and decode each raw binlog
    * rotation as it lands, one file per micro-batch. `maxFileAge` is
    * disabled for the same reason as the text tail: the default window
    * would silently skip a backfilled rotation restored with its
    * original mtime. */
  private[sources] def streamDecode(spark: SparkSession, dir: String,
      cols: Seq[(String, DataType)],
      requireRotate: Boolean,
      changedCol: Option[String] = None,
      hints: Map[String, WireHint] = Map.empty): DataFrame = {
    validateCols(cols, hints)
    val (schema, _) = BinlogText.singleEnvelope(cols, Nil, changedCol,
      textTypes = false)
    val colsB = cols
    val changedB = changedCol
    val hintsB = hints
    rawStream(spark, dir)
      .select(col("content"), col("path"))
      .flatMap { r =>
        decodeFile(r.getAs[Array[Byte]](0), r.getString(1), colsB,
          requireRotate = requireRotate, changedCol = changedB,
          hints = hintsB)
      }(RowEncoder.encoderFor(schema))
      .toDF()
  }

  private def readBitmap(c: Cursor, n: Int): Array[Boolean] = {
    val bytes = (n + 7) / 8
    c.need(bytes)
    val out = Array.tabulate(n)(i =>
      ((c.b(c.o + i / 8) >> (i % 8)) & 1) == 1)
    c.o += bytes
    out
  }

  /** Read a big-endian unsigned value of `n` bytes at the cursor. */
  private def rdBe(c: Cursor, n: Int): Long = {
    c.need(n)
    var v = 0L
    (0 until n).foreach(i => v = (v << 8) | (c.b(c.o + i) & 0xffL))
    c.o += n
    v
  }

  /** A DATETIME2/TIMESTAMP2/TIME2 fractional part in MICROSECONDS —
    * fsp digits scale up to µs. */
  private def readFrac(c: Cursor, fsp: Int): Long =
    if (fsp == 0) 0L
    else {
      var v = rdBe(c, fracLen(fsp))
      (fsp until 6).foreach(_ => v *= 10)
      v
    }

  /** One row image under the TABLE_MAP plan: null bitmap over the
    * PRESENT columns, then the present non-null values. Absent
    * columns surface NULL (the text path's unlisted-column rule).
    * The WIRE type drives each decode (the TABLE_MAP is the truth);
    * `hints` supply what the wire cannot — ENUM value lists, the
    * raw-text temporal surfaces (validated upstream at the
    * TABLE_MAP). */
  private def readImage(c: Cursor, cols: Seq[(String, DataType)],
      wire: WireCols, present: Array[Boolean],
      hints: Map[String, WireHint],
      partialJson: Set[Int] = Set.empty,
      before: Seq[Any] = Nil, path: String = ""): Seq[Any] = {
    import WireHint._
    val presentIdx = present.zipWithIndex.filter(_._1).map(_._2)
    val nullBits = readBitmap(c, presentIdx.length)
    val vals = new Array[Any](cols.length)
    presentIdx.zipWithIndex.foreach { case (ci, pj) =>
      if (!nullBits(pj)) {
        val (name, dt) = cols(ci)
        vals(ci) = wire.types(ci) match {
          case T_LONGLONG if wire.isUnsigned(ci) =>
            // BIGINT UNSIGNED -> DecimalType(20, 0): the low 64 bits
            // reinterpreted unsigned (the UINT64 convention)
            c.need(8)
            val v = rdI64(c.b, c.o); c.o += 8
            val bi =
              if (v >= 0) java.math.BigInteger.valueOf(v)
              else java.math.BigInteger.valueOf(v).add(
                java.math.BigInteger.ONE.shiftLeft(64))
            new java.math.BigDecimal(bi)
          case T_LONGLONG => { c.need(8); val v = rdI64(c.b, c.o); c.o += 8; v }
          case T_LONG if wire.isUnsigned(ci) =>
            c.need(4); val v = rdU32(c.b, c.o); c.o += 4; v
          case T_LONG => { c.need(4); val v = rdI32(c.b, c.o); c.o += 4; v }
          case T_INT24 =>
            c.need(3)
            val raw = (c.b(c.o) & 0xff) | ((c.b(c.o + 1) & 0xff) << 8) |
              ((c.b(c.o + 2) & 0xff) << 16)
            c.o += 3
            if (!wire.isUnsigned(ci) && (raw & 0x800000) != 0)
              raw | 0xff000000
            else raw
          case T_TINY if wire.isUnsigned(ci) =>
            (c.u8() & 0xff).toShort
          case T_TINY => { c.need(1); val v = c.b(c.o); c.o += 1; v }
          case T_SHORT if wire.isUnsigned(ci) => c.u16()
          case T_SHORT =>
            c.need(2); val v = rdU16(c.b, c.o).toShort; c.o += 2; v
          case T_YEAR =>
            val v = c.u8()
            (if (v == 0) 0 else 1900 + v).toShort
          case T_FLOAT =>
            c.need(4)
            val v = java.lang.Float.intBitsToFloat(rdI32(c.b, c.o))
            c.o += 4; v
          case T_DOUBLE =>
            c.need(8)
            val v = java.lang.Double.longBitsToDouble(rdI64(c.b, c.o))
            c.o += 8; v
          case T_VARCHAR | T_VAR_STRING =>
            val len = if (wire.metas(ci) < 256) c.u8() else c.u16()
            c.need(len)
            val v: Any = dt match {
              case BinaryType =>
                java.util.Arrays.copyOfRange(c.b, c.o, c.o + len)
              case _ => new String(c.b, c.o, len,
                textCharsetOrRefuse(wire, ci, name, path))
            }
            c.o += len; v
          case T_NEWDECIMAL =>
            val d = dt.asInstanceOf[DecimalType]
            c.need(decimalBinSize(d.precision, d.scale))
            val v = decodeDecimal(c.b, c.o, d.precision, d.scale)
            c.o += decimalBinSize(d.precision, d.scale)
            v
          case T_DATE | T_NEWDATE =>
            c.need(3)
            val raw = (c.b(c.o) & 0xff) | ((c.b(c.o + 1) & 0xff) << 8) |
              ((c.b(c.o + 2) & 0xff) << 16)
            c.o += 3
            val (y, m, d) = (raw >> 9, (raw >> 5) & 0xf, raw & 0x1f)
            dt match {
              case StringType => f"$y%04d-$m%02d-$d%02d"
              case _ =>
                require(y > 0 && m > 0 && d > 0,
                  s"$name carries the zero date 0000-00-00 (or a " +
                    "zero month/day), which DateType cannot hold — " +
                    "declare WireHint.DateText and null it at apply " +
                    "via MySqlTypes.zeroDateToNull")
                java.sql.Date.valueOf(java.time.LocalDate.of(y, m, d))
            }
          case T_DATETIME2 =>
            val fsp = wire.metas(ci)
            val packed = rdBe(c, 5)
            require((packed & (1L << 39)) != 0,
              s"$name carries a pre-epoch (negative) DATETIME2 this " +
                "decoder does not represent")
            val intPart = packed & ((1L << 39) - 1)
            val ym = (intPart >> 22).toInt
            val (y, mo) = (ym / 13, ym % 13)
            val d = ((intPart >> 17) & 0x1f).toInt
            val h = ((intPart >> 12) & 0x1f).toInt
            val mi = ((intPart >> 6) & 0x3f).toInt
            val s = (intPart & 0x3f).toInt
            val micros = readFrac(c, fsp)
            dt match {
              case StringType =>
                // fsp 0 validated at the TABLE_MAP: the raw-text
                // surface is second-granular like the text transport
                f"$y%04d-$mo%02d-$d%02d $h%02d:$mi%02d:$s%02d"
              case _ =>
                require(y > 0 && mo > 0 && d > 0,
                  s"$name carries the zero datetime 0000-00-00 " +
                    "00:00:00, which TIMESTAMP_NTZ cannot hold — " +
                    "declare WireHint.DateTimeText and null it at " +
                    "apply via MySqlTypes.zeroDateTimeToNull")
                java.time.LocalDateTime.of(y, mo, d, h, mi, s,
                  micros.toInt * 1000)
            }
          case T_TIMESTAMP2 =>
            val sec = rdBe(c, 4)
            val micros = readFrac(c, wire.metas(ci))
            val ts = new java.sql.Timestamp(sec * 1000L)
            ts.setNanos(micros.toInt * 1000)
            ts
          case T_TIME2 =>
            val fsp = wire.metas(ci)
            val packed = rdBe(c, 3)
            require((packed & (1L << 23)) != 0,
              s"$name carries a NEGATIVE TIME value, which the " +
                "seconds-since-midnight Int32 mapping cannot hold — " +
                "negative TIME is an interval, not a clock")
            val h = ((packed >> 12) & 0x3ff).toInt
            val mi = ((packed >> 6) & 0x3f).toInt
            val s = (packed & 0x3f).toInt
            val micros = readFrac(c, fsp)
            require(micros == 0,
              s"$name carries fractional TIME seconds ($micros µs) " +
                "the Int32 seconds mapping would silently drop — " +
                "refuse instead")
            h * 3600 + mi * 60 + s
          case T_BIT => rdBe(c, (wire.metas(ci) + 7) / 8)
          case T_BLOB =>
            val len = readLenByWidth(c, wire.metas(ci))
            c.need(len)
            val v: Any = dt match {
              case StringType => // TEXT: charset-decoded bytes
                new String(c.b, c.o, len,
                  textCharsetOrRefuse(wire, ci, name, path))
              case _ =>
                java.util.Arrays.copyOfRange(c.b, c.o, c.o + len)
            }
            c.o += len; v
          case T_JSON if partialJson.contains(ci) =>
            // a DIFF LIST, not a document: ops applied against the
            // BEFORE image's own value — which must therefore BE a
            // document (a MINIMAL before image without it has nothing
            // to patch; refuse rather than fabricate)
            val len = readLenByWidth(c, wire.metas(ci))
            val end = c.o + len
            c.need(len)
            val diffs = Vector.newBuilder[(Int, String,
              Option[Array[Byte]])]
            while (c.o < end) {
              val dop = c.u8()
              val plen = c.packed().toInt
              c.need(plen)
              val p = new String(c.b, c.o, plen, "UTF-8")
              c.o += plen
              val value =
                if (dop == 2) None // REMOVE carries no value
                else {
                  val vlen = c.packed().toInt
                  c.need(vlen)
                  val v = java.util.Arrays.copyOfRange(c.b, c.o,
                    c.o + vlen)
                  c.o += vlen
                  Some(v)
                }
              diffs += ((dop, p, value))
            }
            require(c.o == end,
              s"$path: JSON diff list for '$name' overruns its " +
                "declared length — corrupt")
            val base = before.lift(ci).orNull match {
              case s: String => s
              case _ => throw new IllegalArgumentException(
                s"$path: partial JSON update for '$name' but the " +
                  "before image carries no document to patch " +
                  "(binlog_row_image=MINIMAL with PARTIAL_JSON is " +
                  "undecodable without destination state) — dump " +
                  "with binlog_row_image=FULL")
            }
            MySqlJsonb.applyDiffsToText(base, diffs.result(),
              s"JSON column '$name'")
          case T_JSON =>
            val len = readLenByWidth(c, wire.metas(ci))
            c.need(len)
            val v = MySqlJsonb.decode(c.b, c.o, len,
              s"JSON column '$name'")
            c.o += len; v
          case T_GEOMETRY =>
            // SRID + WKB bytes verbatim (BinaryType, validated at
            // the TABLE_MAP) — spatial decode lives downstream
            val len = readLenByWidth(c, wire.metas(ci))
            c.need(len)
            val v = java.util.Arrays.copyOfRange(c.b, c.o, c.o + len)
            c.o += len; v
          case T_STRING => stringMeta(wire.metas(ci)) match {
            case (T_ENUM, packLen) =>
              val idx = if (packLen == 1) c.u8() else c.u16()
              // the hint wins when given; otherwise the dump's own
              // ENUM_STR_VALUE metadata (binlog_row_metadata=FULL)
              val values = hints.get(name) match {
                case Some(Enum(vs)) => vs
                case None => wire.enumVals.getOrElse(ci,
                  throw new IllegalArgumentException(
                    s"'$name' decodes as ENUM with no value list"))
                case other => throw new IllegalArgumentException(
                  s"'$name' decodes as ENUM but its hint is $other")
              }
              if (idx == 0) "" // MySQL's invalid-value empty member
              else {
                require(idx <= values.size,
                  s"ENUM index $idx for '$name' is past its declared " +
                    s"${values.size} values — the value list is stale; " +
                    "refuse rather than serve the wrong member")
                values(idx - 1)
              }
            case (T_SET, packLen) =>
              var v = 0L
              c.need(packLen)
              (0 until packLen).foreach(i =>
                v |= (c.b(c.o + i) & 0xffL) << (8 * i))
              c.o += packLen
              dt match {
                case StringType =>
                  // the self-describing surface: MySQL's comma-joined
                  // member text from the dump's own SET_STR_VALUE
                  // list (validated present at the TABLE_MAP); a mask
                  // bit past the list is a stale list and refuses
                  val members = wire.setVals(ci)
                  require(members.size == 64 ||
                    (v & ~((1L << members.size) - 1)) == 0L,
                    s"SET mask $v for '$name' sets bits past its " +
                      s"${members.size} declared members — the " +
                      "member list is stale; refuse rather than " +
                      "serve a wrong membership")
                  members.zipWithIndex.collect {
                    case (m, i2) if (v & (1L << i2)) != 0L => m
                  }.mkString(",")
                case _ => v
              }
            case (_, maxLen) =>
              val len = if (maxLen < 256) c.u8() else c.u16()
              c.need(len)
              val v = new String(c.b, c.o, len,
                textCharsetOrRefuse(wire, ci, name, path))
              c.o += len; v
          }
          case other => throw new IllegalArgumentException(
            s"unsupported wire type $other for column '$name'")
        }
      }
    }
    vals.toSeq
  }

  /** A text column's decode charset — refusing BY NAME when the
    * metadata says the bytes are binary (collation 63): a StringType
    * reading of binary bytes is mojibake by construction. */
  private def textCharsetOrRefuse(wire: WireCols, ci: Int, name: String,
      path: String): String =
    wire.textCharset(ci, name, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path: column '$name' is declared StringType but the " +
          "TABLE_MAP says its bytes are BINARY (collation 63 — " +
          "VARBINARY/BLOB) — declare BinaryType; there is no text " +
          "reading to serve"))

  /** A BLOB/JSON length prefix of `width` little-endian bytes. */
  private def readLenByWidth(c: Cursor, width: Int): Int = {
    c.need(width)
    var v = 0L
    (0 until width).foreach(i => v |= (c.b(c.o + i) & 0xffL) << (8 * i))
    c.o += width
    require(v >= 0 && v <= Int.MaxValue, s"unreasonable length $v")
    v.toInt
  }
}
