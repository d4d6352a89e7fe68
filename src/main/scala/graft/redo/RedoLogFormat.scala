package graft.redo

import java.io.{BufferedOutputStream, DataOutputStream, EOFException, FileOutputStream, File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

import graft.cdc.{Ops, RedoRecord}

/** GRL1 — graft redo log: the on-disk binary change-log format behind the
  * `graft-redo` Spark source.
  *
  * Re-expresses the STRUCTURE of Oracle redo the reference mines — without
  * reading Oracle's proprietary layout: fixed-size blocks (512/1024/4096,
  * ref `OraCdcRedoLog.java:785-817`), per-block XOR checksum validation,
  * records that span block boundaries and must be reassembled (ref
  * multi-block record handling, `OraCdcRedoLog.java:58-780`), RBA
  * addressing (block number + offset of first record starting in the
  * block), and per-record layered change vectors — a 5.1 undo vector
  * carrying the before-image, an 11.x row-op vector carrying the
  * after-image, a 5.4 commit/rollback control vector (ref op catalogue
  * `OraCdcChange.java:59-196`). One log file per writer "thread" mirrors
  * the RAC one-task-per-THREAD# partitioning.
  *
  * Layout (all little-endian):
  *
  * Block 0 (file header): magic "GRL1" u32 | blockSize u32 | seq u32 |
  *   thread u32 | firstScn u64 | nextScn u64.
  * Block n>0: header = magic u32 | blockNo u32 | seq u32 | checksum u16 |
  *   firstRecOffset u16 (0xFFFF: no record starts here) | payload.
  *   checksum = XOR of every u16 in the block with the checksum field
  *   zeroed (Oracle-style block checksum).
  * Record stream (chunked into block payloads): recLen u32 | scn u64 |
  *   ssn u16 | tsMicros i64 | xid str | nVectors u16 | vectors.
  * Vector: layer u8 | opcode u8 | flags u8 (bit0 = partial-rollback) |
  *   table str | rowId str | nRows u16 | per row: nCols u16 |
  *   cols {name str, value str-or-null}.
  * str: u16 length + UTF-8 bytes; value null marker = length 0xFFFF.
  */
object RedoLogFormat {
  val Magic: Int = 0x47524C31 // "GRL1"
  val HeaderBytes: Int = 16
  val NoRecord: Int = 0xFFFF
  val LegalBlockSizes: Set[Int] = Set(512, 1024, 4096)

  // change-vector layer/opcode catalogue (semantic mirror of the
  // reference's layer 5 / layer 11 families)
  val LayerTxn: Int = 5
  val LayerRow: Int = 11
  val LayerDirect: Int = 19
  val LayerDdl: Int = 24
  val LayerLob: Int = 26
  val OpUndo: Int = 1      // 5.1: before-image
  val OpCommitCtl: Int = 4 // 5.4: commit (flag bit1=0) / rollback (bit1=1)
  val OpAudit: Int = 19    // 5.19: session-audit attributes (P7; ref
                           // `OraCdcChangeAudit.java`) — username,
                           // osUsername, hostname, auditSessionId, clientId
                           // ride as the vector's single row image
  val OpInsert: Int = 2    // 11.2 IRP
  val OpDelete: Int = 3    // 11.3 DRP
  val OpUpdate: Int = 5    // 11.5 URP
  val OpMultiInsert: Int = 11 // 11.11 QMI
  val OpMultiDelete: Int = 12 // 11.12 QMD
  val OpLobWrite: Int = 1     // 26.1 LOB chunk
  val OpDirectBlock: Int = 1  // 19.1 COLB direct-loaded block
  val OpDdlStmt: Int = 1      // 24.1 DDL statement (text rides in `after`)
  val FlagRollback: Int = 0x01
  val FlagTxnRollback: Int = 0x02

  def checksum(block: Array[Byte], checksumOffset: Int): Int =
    checksum(block, 0, block.length, checksumOffset)

  /** Offset-aware form so callers can verify a block in place inside a
    * larger buffer without slicing a copy per block.
    */
  def checksum(buf: Array[Byte], base: Int, len: Int, checksumOffset: Int): Int = {
    var acc = 0
    var i = 0
    while (i < len - 1) {
      if (i != checksumOffset) // skip the checksum u16 itself
        acc ^= ((buf(base + i) & 0xff) | ((buf(base + i + 1) & 0xff) << 8))
      i += 2
    }
    acc & 0xffff
  }
}

/** Serializes [[RedoRecord]]s into one GRL1 log file. Not thread-safe —
  * one writer per log "thread", like the reference's one worker per redo
  * THREAD#.
  */
class RedoLogWriter(file: File, blockSize: Int = 1024, seq: Int = 1,
    thread: Int = 0) {
  require(RedoLogFormat.LegalBlockSizes(blockSize), s"bad block size $blockSize")

  // primitive byte stream, NOT ArrayBuffer[Byte]: boxed bytes cost
  // 5-17x the payload in heap and a GiB-scale partition streamed
  // through one writer must stay ~1x resident
  private val out = new java.io.ByteArrayOutputStream(1 << 16)

  /** Bytes buffered so far — the writer holds the serialized stream
    * until close() (header fields and block layout finalize there), so
    * callers producing open-ended extracts can watch this and warn.
    */
  def bufferedBytes: Long = out.size().toLong
  private var firstScn = Long.MaxValue
  private var nextScn = 0L

  private def putU16(b: ArrayBuffer[Byte], v: Int): Unit = {
    // silent truncation here would corrupt ssn / row- / column-counts
    // in a way only the assembler's ordering notices much later
    require(v >= 0 && v <= 0xffff, s"u16 field out of range: $v")
    b += (v & 0xff).toByte; b += ((v >> 8) & 0xff).toByte
  }
  private def putU32(b: ArrayBuffer[Byte], v: Int): Unit = {
    putU16(b, v & 0xffff); putU16(b, (v >>> 16) & 0xffff)
  }
  private def putU64(b: ArrayBuffer[Byte], v: Long): Unit = {
    putU32(b, (v & 0xffffffffL).toInt); putU32(b, (v >>> 32).toInt)
  }
  private def putStr(b: ArrayBuffer[Byte], s: String): Unit = {
    val bytes = s.getBytes("UTF-8")
    require(bytes.length < RedoLogFormat.NoRecord, "string too long")
    putU16(b, bytes.length); b ++= bytes
  }
  private def putVal(b: ArrayBuffer[Byte], v: Option[String]): Unit = v match {
    case None => putU16(b, RedoLogFormat.NoRecord)
    case Some(s) => putStr(b, s)
  }

  /** Record start offsets in the logical stream (for firstRecOffset). */
  private val recordStarts = new ArrayBuffer[Long]()

  def append(r: RedoRecord): Unit = {
    recordStarts += out.size().toLong
    if (r.scn < firstScn) firstScn = r.scn
    if (r.scn + 1 > nextScn) nextScn = r.scn + 1

    val body = new ArrayBuffer[Byte](256)
    putU64(body, r.scn)
    putU16(body, r.ssn)
    putU64(body, r.tsMicros)
    putStr(body, r.xid)

    def rowCols(b: ArrayBuffer[Byte], m: Map[String, String]): Unit = {
      putU16(b, m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        putStr(b, k); putVal(b, Option(v))
      }
    }
    def vector(layer: Int, opcode: Int, flags: Int,
        rows: Seq[Map[String, String]]): ArrayBuffer[Byte] = {
      val b = new ArrayBuffer[Byte](64)
      b += layer.toByte; b += opcode.toByte; b += flags.toByte
      putStr(b, r.table); putStr(b, r.rowId)
      putU16(b, rows.size)
      rows.foreach(rowCols(b, _))
      b
    }

    import RedoLogFormat._
    val rollbackFlag = if (r.rollback) FlagRollback else 0
    val vectors: Seq[ArrayBuffer[Byte]] = r.op match {
      case Ops.Insert =>
        Seq(vector(LayerTxn, OpUndo, rollbackFlag, Seq(r.before)),
          vector(LayerRow, OpInsert, rollbackFlag, Seq(r.after)))
      case Ops.Delete =>
        Seq(vector(LayerTxn, OpUndo, rollbackFlag, Seq(r.before)),
          vector(LayerRow, OpDelete, rollbackFlag, Seq(r.after)))
      case Ops.Update =>
        Seq(vector(LayerTxn, OpUndo, rollbackFlag, Seq(r.before)),
          vector(LayerRow, OpUpdate, rollbackFlag, Seq(r.after)))
      case Ops.MultiInsert =>
        Seq(vector(LayerRow, OpMultiInsert, rollbackFlag, r.multiRows))
      case Ops.MultiDelete =>
        Seq(vector(LayerRow, OpMultiDelete, rollbackFlag, r.multiRows))
      case Ops.DirectLoad =>
        // T7: one vector carries the whole direct-loaded block — row
        // directory + images, NO 5.1 undo companion (the defining trait
        // of direct-path load; ref `OraCdcChangeColb`/19.1)
        Seq(vector(LayerDirect, OpDirectBlock, rollbackFlag, r.multiRows))
      case Ops.LobChunk =>
        Seq(vector(LayerLob, OpLobWrite, rollbackFlag, Seq(r.after)))
      case Ops.Ddl =>
        // T9: DDL transits redo like any change (24.1 analogue); the
        // statement text rides in `after` (e.g. key "ddl")
        Seq(vector(LayerDdl, OpDdlStmt, 0, Seq(r.after)))
      case Ops.Commit =>
        Seq(vector(LayerTxn, OpCommitCtl, 0, Nil))
      case Ops.Rollback =>
        Seq(vector(LayerTxn, OpCommitCtl, FlagTxnRollback, Nil))
      case Ops.Audit =>
        Seq(vector(LayerTxn, OpAudit, 0, Seq(r.after)))
      case other =>
        throw new IllegalArgumentException(s"unsupported op $other")
    }

    val rec = new ArrayBuffer[Byte](body.length + 64)
    putU16(rec, vectors.length)
    vectors.foreach(rec ++= _)

    val recLen = 4 + body.length + rec.length // recLen counts itself
    out.write(recLen & 0xff); out.write((recLen >> 8) & 0xff)
    out.write((recLen >> 16) & 0xff); out.write((recLen >>> 24) & 0xff)
    out.write(body.toArray)
    out.write(rec.toArray)
  }

  /** Flush the record stream into checksummed blocks and write the file. */
  def close(): Unit = {
    import RedoLogFormat._
    val data = out.toByteArray
    val payloadPerBlock = blockSize - HeaderBytes
    val nBlocks = math.max(1, (data.length + payloadPerBlock - 1) / payloadPerBlock)

    // written to a temp name and renamed into place: a log directory
    // consumer (the graft-redo source lists it every trigger) must
    // never observe a half-written segment. The reference solves the
    // same problem from the READER side because Oracle's writer works
    // in place (`utils/file/OpenFileChecker.java` — lsof/nio probes for
    // a log still held open); an atomic-appearance writer makes the
    // race structurally impossible instead.
    val tmp = new File(file.getPath + ".inprogress")
    var failed = true
    val f = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(tmp)))
    try {
      // file header block
      val hdr = ByteBuffer.allocate(blockSize).order(ByteOrder.LITTLE_ENDIAN)
      hdr.putInt(Magic); hdr.putInt(blockSize); hdr.putInt(seq); hdr.putInt(thread)
      hdr.putLong(if (firstScn == Long.MaxValue) 0L else firstScn)
      hdr.putLong(nextScn)
      f.write(hdr.array())

      var blockNo = 1
      var pos = 0
      var nextRecIdx = 0
      while (blockNo <= nBlocks) {
        val block = ByteBuffer.allocate(blockSize).order(ByteOrder.LITTLE_ENDIAN)
        val take = math.min(payloadPerBlock, data.length - pos)
        // first record that STARTS inside this block's payload range
        while (nextRecIdx < recordStarts.length &&
          recordStarts(nextRecIdx) < pos) nextRecIdx += 1
        val firstRec =
          if (nextRecIdx < recordStarts.length &&
            recordStarts(nextRecIdx) < pos + take)
            (recordStarts(nextRecIdx) - pos).toInt
          else NoRecord
        block.putInt(Magic); block.putInt(blockNo); block.putInt(seq)
        block.putShort(0) // checksum placeholder at offset 12
        block.putShort(firstRec.toShort)
        block.put(data, pos, take)
        val arr = block.array()
        val ck = checksum(arr, 12)
        arr(12) = (ck & 0xff).toByte
        arr(13) = ((ck >> 8) & 0xff).toByte
        f.write(arr)
        pos += take
        blockNo += 1
      }
      // close INSIDE the try: the buffered flush happens here, so a
      // disk-full on a small segment surfaces as a WRITE failure (a
      // close() left to the finally block would mask the body's real
      // error and skip the temp cleanup)
      f.close()
      failed = false
    } finally {
      // a write that died mid-stream (disk full, interrupt) must not
      // orphan its temp file — invisible to the .grl listings, it
      // would accumulate silently across retries. Best-effort close of
      // the already-failed stream must not replace the real exception.
      if (failed) {
        try f.close() catch { case _: Throwable => () }
        tmp.delete()
      }
    }
    // REPLACE_EXISTING alongside ATOMIC_MOVE: renaming onto an existing
    // target with ATOMIC_MOVE alone is implementation-specific (a
    // retried task re-publishing the same segment relies on it)
    java.nio.file.Files.move(tmp.toPath, file.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Reads a GRL1 log file: block scan with checksum validation, multi-block
  * record reassembly, optional start-RBA positioning.
  */
object RedoLogReader {

  case class FileHeader(blockSize: Int, seq: Int, thread: Int,
      firstScn: Long, nextScn: Long)

  def readHeader(file: File): FileHeader = {
    val src = LocalRedoProvider.open(file.getPath)
    try readHeader(src, file.getPath) finally src.close()
  }

  /** Transport-independent header read (S6): works over any
    * [[RedoByteSource]] — local file, in-memory, HTTP range.
    */
  def readHeader(src: RedoByteSource, name: String): FileHeader = {
    val buf = new Array[Byte](32)
    src.readFully(0, buf)
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == RedoLogFormat.Magic, s"bad magic in $name")
    FileHeader(bb.getInt, bb.getInt, bb.getInt, bb.getLong, bb.getLong)
  }

  /** All records in the file, in log order. */
  def records(file: File): Iterator[RedoRecord] = recordsFrom(file, 1, 0)

  /** Records from a start RBA (blockNo, offsetInPayload) — the restart
    * path: positions into the middle of the log without replaying it.
    */
  def recordsFrom(file: File, startBlock: Int, startOffset: Int): Iterator[RedoRecord] = {
    val src = LocalRedoProvider.open(file.getPath)
    try recordsFrom(src, file.getPath, startBlock, startOffset)
    finally src.close()
  }

  /** Transport-independent scan (S6): consumes the whole byte source
    * eagerly (redo logs are bounded archived segments), so the source
    * can be closed as soon as this returns.
    */
  def recordsFrom(src: RedoByteSource, name: String,
      startBlock: Int, startOffset: Int): Iterator[RedoRecord] = {
    import RedoLogFormat._
    val header = readHeader(src, name)
    val blockSize = header.blockSize
    // the writer emits whole blocks only: a partial tail is a torn copy,
    // and dropping it would drop the records it carries
    if (src.length % blockSize != 0)
      throw new java.io.IOException(s"torn redo segment $name: ${src.length} bytes " +
        s"is not a whole number of $blockSize-byte blocks")
    val totalBlocks = (src.length / blockSize).toInt // incl. header block
    val payloadPer = blockSize - HeaderBytes
    val bn0 = math.max(1, startBlock)
    val nBlocks = math.max(0, totalBlocks - bn0)
    // a start RBA at/past EOF is the normal restart shape after a log
    // rotation — the stream simply continues in the next sequence's log
    if (nBlocks == 0) return Iterator.empty
    // the stitched payload must fit one array (parseStream's contract —
    // GRL segments are bounded archived logs, like the reference's)
    require(nBlocks.toLong * payloadPer <= Int.MaxValue - 64,
      s"redo segment too large to materialize: $name")
    val out = new Array[Byte](nBlocks * payloadPer)
    // bulk CHUNKED reads: a remote byte source (ranged HTTP, SSH) must
    // not pay a round trip per 1 KiB block, and a multi-GiB segment
    // must not be resident twice — 8 MiB chunks bound the extra memory
    val chunkBlocks = math.max(1, (8 << 20) / blockSize)
    val chunk = new Array[Byte](chunkBlocks * blockSize)
    var effStartOffset = startOffset
    var i = 0
    while (i < nBlocks) {
      val n = math.min(chunkBlocks, nBlocks - i)
      src.readFully((bn0 + i).toLong * blockSize, chunk, 0, n * blockSize)
      var j = 0
      while (j < n) {
        val base = j * blockSize
        val bn = bn0 + i + j
        if (bn == bn0 && bn0 > 1 && startOffset == 0) {
          // caller gave only a block: begin at its first record start
          val firstRec = ((chunk(base + 14) & 0xff) | ((chunk(base + 15) & 0xff) << 8))
          require(firstRec != NoRecord, s"no record starts in block $bn0")
          effStartOffset = firstRec
        }
        val stored = ((chunk(base + 12) & 0xff) | ((chunk(base + 13) & 0xff) << 8))
        val computed = checksum(chunk, base, blockSize, 12)
        if (stored != computed)
          throw new java.io.IOException(
            s"checksum mismatch in $name block $bn: stored=$stored computed=$computed")
        val bb = ByteBuffer.wrap(chunk, base, blockSize).order(ByteOrder.LITTLE_ENDIAN)
        require(bb.getInt == Magic, s"bad block magic in $name block $bn")
        System.arraycopy(chunk, base + HeaderBytes, out, (i + j) * payloadPer, payloadPer)
        j += 1
      }
      i += n
    }
    // a clear diagnosis beats copyOfRange's opaque IllegalArgumentException
    // when a checkpoint carries a corrupt in-block offset
    require(effStartOffset >= 0 && effStartOffset <= out.length,
      s"start RBA offset $effStartOffset out of range for $name " +
        s"(payload ${out.length} bytes from block $bn0)")
    val bytes =
      if (effStartOffset == 0) out
      else java.util.Arrays.copyOfRange(out, effStartOffset, out.length)
    parseStream(bytes, name)
  }

  /** Records of a stitched payload. It ends at a zero record length
    * (the writer's padding) or with fewer than 4 bytes left; a record
    * length below 4 or past the payload's end is a corrupt or truncated
    * segment and fails naming `name`.
    */
  private def parseStream(bytes: Array[Byte], name: String): Iterator[RedoRecord] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    new Iterator[RedoRecord] {
      private var nextRec: RedoRecord = _
      private var done = false
      advance()

      private def getStr(): String = {
        val len = bb.getShort & 0xffff
        val arr = new Array[Byte](len)
        bb.get(arr)
        new String(arr, "UTF-8")
      }
      private def getVal(): Option[String] = {
        val len = bb.getShort & 0xffff
        if (len == RedoLogFormat.NoRecord) None
        else {
          val arr = new Array[Byte](len)
          bb.get(arr)
          Some(new String(arr, "UTF-8"))
        }
      }
      private def getCols(): Map[String, String] = {
        val n = bb.getShort & 0xffff
        (0 until n).map(_ => getStr() -> getVal().orNull).toMap
      }

      private def advance(): Unit = {
        import RedoLogFormat._
        if (bb.remaining() < 4) { done = true; return }
        val start = bb.position()
        val recLen = bb.getInt
        if (recLen == 0) { done = true; return }
        if (recLen < 4 || bb.remaining() < recLen - 4)
          throw new java.io.IOException(s"truncated redo segment $name: record at " +
            s"payload offset $start has length $recLen, ${bb.remaining() + 4} bytes remain")
        val scn = bb.getLong
        val ssn = bb.getShort & 0xffff
        val ts = bb.getLong
        val xid = getStr()
        val nVec = bb.getShort & 0xffff
        var op = -1
        var table = ""
        var rowId = ""
        var rollback = false
        var before = Map.empty[String, String]
        var after = Map.empty[String, String]
        var multi: Seq[Map[String, String]] = Nil
        (0 until nVec).foreach { _ =>
          val layer = bb.get() & 0xff
          val opcode = bb.get() & 0xff
          val flags = bb.get() & 0xff
          val tbl = getStr()
          val rid = getStr()
          val nRows = bb.getShort & 0xffff
          val rows = (0 until nRows).map(_ => getCols())
          if (tbl.nonEmpty) table = tbl
          if (rid.nonEmpty) rowId = rid
          if ((flags & FlagRollback) != 0) rollback = true
          (layer, opcode) match {
            case (LayerTxn, OpUndo) =>
              before = rows.headOption.getOrElse(Map.empty)
            case (LayerTxn, OpCommitCtl) =>
              op = if ((flags & FlagTxnRollback) != 0) Ops.Rollback else Ops.Commit
            case (LayerTxn, OpAudit) =>
              op = Ops.Audit; after = rows.headOption.getOrElse(Map.empty)
            case (LayerRow, OpInsert) =>
              op = Ops.Insert; after = rows.headOption.getOrElse(Map.empty)
            case (LayerRow, OpDelete) =>
              op = Ops.Delete; after = rows.headOption.getOrElse(Map.empty)
            case (LayerRow, OpUpdate) =>
              op = Ops.Update; after = rows.headOption.getOrElse(Map.empty)
            case (LayerRow, OpMultiInsert) =>
              op = Ops.MultiInsert; multi = rows
            case (LayerRow, OpMultiDelete) =>
              op = Ops.MultiDelete; multi = rows
            case (LayerDirect, OpDirectBlock) =>
              op = Ops.DirectLoad; multi = rows
            case (LayerLob, OpLobWrite) =>
              op = Ops.LobChunk; after = rows.headOption.getOrElse(Map.empty)
            case (LayerDdl, OpDdlStmt) =>
              op = Ops.Ddl; after = rows.headOption.getOrElse(Map.empty)
            case other =>
              throw new java.io.IOException(s"unknown change vector $other in $name")
          }
        }
        bb.position(start + recLen)
        nextRec = RedoRecord(scn, ssn, xid, op, table, rowId, rollback, ts,
          before, after, multi)
      }

      override def hasNext: Boolean = !done
      override def next(): RedoRecord = {
        if (done) throw new EOFException()
        val r = nextRec
        advance()
        r
      }
    }
  }

  /** Log-topology listing (S5 analogue): *.grl files ordered by sequence
    * number from their headers; throws on a sequence gap per thread, like
    * the reference's archived-log gap detection.
    */
  def listLogs(dir: File): Seq[(File, FileHeader)] =
    listLogs(LocalRedoProvider, dir.getPath)
      .map { case (path, h) => new File(path) -> h }

  /** Transport-independent topology scan (S6): list + header-read each
    * log through the provider, enforce per-thread sequence continuity.
    *
    * `headerCache` (optional): path → header memo for repeated listings.
    * GRL segments are immutable once written (archived logs), so a
    * cached header never staled; without the cache a streaming trigger
    * re-opens every accumulated archive up to three times per
    * micro-batch (latestOffset / reportLatestOffset / planning) — over
    * a remote provider that is 3N round trips per trigger, growing with
    * the archive.
    */
  def listLogs(provider: RedoStorageProvider, dir: String,
      headerCache: collection.mutable.Map[String, FileHeader] = null)
      : Seq[(String, FileHeader)] = {
    val base = dir.stripSuffix("/")
    def header(path: String): FileHeader = {
      val cached = if (headerCache != null) headerCache.get(path) else None
      cached.getOrElse {
        val src = provider.open(path)
        val h = try readHeader(src, path) finally src.close()
        if (headerCache != null) headerCache(path) = h
        h
      }
    }
    val withHeaders = provider.list(dir).map { name =>
      val path = s"$base/$name"
      path -> header(path)
    }.sortBy { case (_, h) => (h.thread, h.seq) }
    withHeaders.groupBy(_._2.thread).foreach { case (t, logs) =>
      logs.map(_._2.seq).sliding(2).foreach {
        case Seq(a, b) if b != a + 1 =>
          throw new IllegalStateException(
            s"redo sequence gap for thread $t: $a -> $b")
        case _ =>
      }
    }
    withHeaders.sortBy { case (_, h) => (h.seq, h.thread) }
  }
}
