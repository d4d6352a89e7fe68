package graft.sources

import java.io.File
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.RedoRecord
import graft.redo.{LocalRedoProvider, RedoLogReader, RedoStorageProvider}

/** `graft-redo` — DataSource V2 over GRL1 redo logs (SURVEY.md §7.1-4).
  *
  * The Spark-first re-expression of the reference's source stack: the
  * driver lists the log topology in sequence order with gap detection
  * (S5, ref `OraCdcV$ArchivedLogImpl.java:189`), each log file becomes one
  * `InputPartition` (the per-redo-THREAD# task partitioning, ref
  * `KafkaSourceConnectorBase.taskConfigs:262`), and executors block-scan,
  * checksum-validate and parse their file into uniform change rows
  * (S1/S2). Table/operation scope pruning (P1/P2) happens IN the source
  * via options, before any downstream operator sees a row — mirroring the
  * reference's pushdown of `OPERATION_CODE in (...)` and its dictionary
  * skip-set.
  *
  * Batch:     spark.read.format("graft-redo").load(dir)
  * Streaming: spark.readStream.format("graft-redo")
  *              .option("maxFilesPerTrigger", n).load(dir)
  *            — offsets are "files consumed" in (seq, thread) order, so a
  *            restart resumes at the next unread log exactly like the
  *            reference's offset bookkeeping resumes at the next redo log.
  *
  * Options: `path`, `tables` (comma list, `%`/`*` wildcards — P1),
  * `ops` (comma list of data op codes, `graft.cdc.Ops.data` — P2),
  * `maxFilesPerTrigger` (a positive integer).
  */
class RedoLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-redo"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RedoLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedoLogTable(new CaseInsensitiveStringMap(properties))
}

object RedoLogSource {
  /** Uniform change-record schema (matches graft.cdc.RedoRecord, so
    * `.as[RedoRecord]` feeds the transaction assembler directly).
    */
  val schema: StructType = StructType(Seq(
    StructField("scn", LongType, nullable = false),
    StructField("ssn", IntegerType, nullable = false),
    StructField("xid", StringType, nullable = false),
    StructField("op", IntegerType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("rowId", StringType, nullable = false),
    StructField("rollback", BooleanType, nullable = false),
    StructField("tsMicros", LongType, nullable = false),
    StructField("before", MapType(StringType, StringType), nullable = false),
    StructField("after", MapType(StringType, StringType), nullable = false),
    StructField("multiRows", ArrayType(MapType(StringType, StringType)),
      nullable = false)))

  /** `%`/`*` wildcard table matcher (P1: a2.include-style scope). */
  private[sources] def tableMatcher(patterns: Seq[String]): String => Boolean =
    graft.util.Wildcards.matcher(patterns)

  private[sources] def toRow(r: RedoRecord): InternalRow = {
    // keys and values filled in ONE pass over the map, so column i's
    // name and value always land at index i
    def mapData(m: Map[String, String]) = {
      val keys = new Array[Any](m.size)
      val values = new Array[Any](m.size)
      var i = 0
      m.foreach { case (k, v) =>
        keys(i) = UTF8String.fromString(k)
        values(i) = if (v == null) null else UTF8String.fromString(v)
        i += 1
      }
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
    }
    val multi: ArrayData = new GenericArrayData(
      r.multiRows.map(mapData).toArray[Any])
    InternalRow(r.scn, r.ssn, UTF8String.fromString(r.xid), r.op,
      UTF8String.fromString(r.table), UTF8String.fromString(r.rowId),
      r.rollback, r.tsMicros, mapData(r.before), mapData(r.after), multi)
  }
}

class RedoLogTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-redo(${options.get("path")})"
  override def schema(): StructType = RedoLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(opts)
    new RedoLogScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

class RedoLogScanBuilder(options: CaseInsensitiveStringMap) extends ScanBuilder {
  override def build(): Scan = new RedoLogScan(options)
}

class RedoLogScan(options: CaseInsensitiveStringMap) extends Scan {
  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("graft-redo requires a path"))
  private val tables: Seq[String] = Option(options.get("tables"))
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
  // checked here, once per scan: an unknown op code would match no data
  // record, and a non-positive file limit would admit no file, so the
  // stream would idle forever without an error
  private def invalid(option: String, v: String, why: String) =
    new IllegalArgumentException(s"graft-redo option $option='$v' $why")
  private val ops: Seq[Int] = Option(options.get("ops")).map { v =>
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(o =>
      o.toIntOption.filter(graft.cdc.Ops.data).getOrElse(throw invalid("ops", v,
        s"names '$o', not a data op code (${graft.cdc.Ops.data.toSeq.sorted.mkString(", ")})")))
  }.getOrElse(Nil)
  private val maxFilesPerTrigger: Int =
    Option(options.get("maxFilesPerTrigger")).map(v => v.toIntOption.filter(_ > 0)
      .getOrElse(throw invalid("maxFilesPerTrigger", v, "is not a positive integer")))
      .getOrElse(Int.MaxValue)
  // K6 polish: `metricsName` registers a `graft.cdc:type=source-conn`
  // MBean (the OraCdcSourceConnMgmt analogue) updated as this scan's
  // stream commits offsets; absent → zero overhead
  private val metricsName: Option[String] = Option(options.get("metricsName"))
  private val metrics: Option[graft.metrics.SourceConnMetrics] =
    metricsName.map(n =>
      graft.metrics.SourceConnMetrics.forName(n).scopedTo(tables))

  // S6: the path picks the transport — local directory or http(s)://
  // base URL; every executor opens its own byte source per partition.
  // Driver-side header memo: segments are immutable, and a streaming
  // trigger lists up to 3x — only NEW files pay a header read.
  private val headerCache =
    collection.mutable.Map.empty[String, RedoLogReader.FileHeader]
  private def listWithCoords(): Seq[(String, Int, Int)] = {
    val provider = RedoStorageProvider.forPath(path)
    val base =
      if (provider eq LocalRedoProvider) new File(path).getAbsolutePath else path
    RedoLogReader.listLogs(provider, base, headerCache).map { case (p, h) =>
      (p, h.thread, h.seq)
    }
  }

  override def readSchema(): StructType = RedoLogSource.schema
  override def description(): String = s"graft-redo $path"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      listWithCoords().map { case (f, _, _) =>
        RedoFilePartition(f, tables, ops, metricsName): InputPartition
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new RedoReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // headers are already memoized by the listing, so the mining-time
    // metrics update pays no extra I/O
    val onMined: Seq[(String, Int, Int)] => Unit = files =>
      metrics.foreach(_.logsMined(files.map { case (p, _, seq) =>
        val name = p.substring(p.lastIndexOf('/') + 1)
        (name, seq, headerCache.get(p).map(_.nextScn).getOrElse(0L))
      }))
    new RedoMicroBatchStream(listWithCoords _, tables, ops,
      maxFilesPerTrigger, metricsName, onMined)
  }
}

/** Offset = per-thread high-watermark of fully consumed log sequence
  * numbers — the reference's "last processed sequence per redo THREAD#".
  * Identifying files by (thread, seq) coordinates (never by list
  * position) makes the offset stable when a slow thread's log lands late
  * or consumed logs are archived away.
  */
case class RedoFileOffset(threadSeqs: Map[Int, Int]) extends Offset {
  override def json(): String =
    threadSeqs.toSeq.sorted.map { case (t, s) => s""""$t":$s""" }
      .mkString("{", ",", "}")
  /** Watermark for `thread`, Int.MinValue when the thread has never been
    * consumed — a 0 default made writer seq 0 (and negatives, which the
    * parser accepts) permanently invisible to streaming while batch
    * reads them. */
  def seqFor(thread: Int): Int =
    threadSeqs.getOrElse(thread, Int.MinValue)
}

object RedoFileOffset {
  val empty: RedoFileOffset = RedoFileOffset(Map.empty)
  def parse(json: String): RedoFileOffset = RedoFileOffset(
    """"(-?\d+)"\s*:\s*(-?\d+)""".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2).toInt).toMap)
}

class RedoMicroBatchStream(list: () => Seq[(String, Int, Int)],
    tables: Seq[String], ops: Seq[Int], maxFilesPerTrigger: Int,
    metricsName: Option[String] = None,
    onMined: Seq[(String, Int, Int)] => Unit = _ => ())
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private def toOffset(o: Offset): RedoFileOffset = o match {
    case r: RedoFileOffset => r
    case other => RedoFileOffset.parse(other.json())
  }
  private def watermarks(files: Seq[(String, Int, Int)]): RedoFileOffset =
    RedoFileOffset(files.groupBy(_._2).map { case (t, fs) =>
      t -> fs.map(_._3).max
    })

  override def initialOffset(): Offset = RedoFileOffset.empty
  override def latestOffset(): Offset = watermarks(list())
  // admission control: a micro-batch admits at most maxFilesPerTrigger
  // files — the cap must move the OFFSET, not silently drop partitions,
  // and must NOT apply when the engine probes with allAvailable() (e.g.
  // Trigger.AvailableNow computing its end target)
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = toOffset(start)
    val unread = list().filter { case (_, t, seq) => seq > s.seqFor(t) }
      .sortBy { case (_, t, seq) => (seq, t) }
    // never-skip-a-sequence invariant (the reference aborts its mining
    // range on a missing sequence): for a thread with a checkpointed
    // watermark, the first unread listed sequence must be watermark+1 —
    // a higher one means retention archived away logs the stream never
    // consumed, and admitting the remainder would silently lose their
    // transactions. listLogs' gap check only sees the CURRENT listing,
    // which is contiguous again after the loss. (A thread with no
    // watermark is a fresh start: any first sequence is fine.)
    unread.groupBy(_._2).foreach { case (t, fs) =>
      s.threadSeqs.get(t).foreach { wm =>
        val first = fs.map(_._3).min
        require(first == wm + 1,
          s"redo thread $t: checkpointed watermark $wm but the oldest " +
            s"unread log is seq $first — sequences ${wm + 1}..${first - 1} " +
            "were removed before being consumed; reset the checkpoint to " +
            "accept the loss explicitly")
      }
    }
    val admitted = limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        unread.take(mf.maxFiles())
      case _ => unread
    }
    // a (seq, thread)-ordered prefix keeps each thread's sequence gapless
    RedoFileOffset(s.threadSeqs ++ watermarks(admitted).threadSeqs)
  }
  override def reportLatestOffset(): Offset = watermarks(list())
  override def deserializeOffset(json: String): Offset = RedoFileOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  // connection-management telemetry (K6): a log counts as PROCESSED
  // when it is planned into a micro-batch and handed to the executors
  // — the reference's setNowProcessed/addAlreadyProcessed moment
  // (mining), not checkpoint commit (whose source callback lags one
  // batch and never fires for a run's final batch). A recovered batch
  // re-plans and re-reports its logs, exactly like the reference
  // re-logs its resume range. reportedSoFar keeps steady-state
  // triggers from re-reporting every prior log.
  private var reportedSoFar = RedoFileOffset.empty
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = toOffset(start)
    val e = toOffset(end)
    val selected = list().filter { case (_, t, seq) =>
      seq > s.seqFor(t) && seq <= e.seqFor(t)
    }
    val fresh = selected.filter { case (_, t, seq) => seq > reportedSoFar.seqFor(t) }
    // the committed range (start, end] was admitted against an EARLIER
    // listing: a file that vanished since (retention racing the batch,
    // or a restart recovering this exact batch after the loss) must
    // FAIL the batch, not silently shrink it — the offset will commit
    // as if the data was read. Per thread the admitted range is
    // contiguous, so it suffices that the selected seqs run gapless
    // from the start watermark (+1, when one exists) to exactly e(t).
    val byThread = selected.groupBy(_._2)
    e.threadSeqs.foreach { case (t, endSeq) =>
      val startSeq = s.seqFor(t)
      if (endSeq > startSeq) {
        val seqs = byThread.getOrElse(t, Nil).map(_._3).sorted
        val contiguous = seqs.nonEmpty && seqs.last == endSeq &&
          seqs.zip(seqs.tail).forall { case (a, b) => b == a + 1 } &&
          (!s.threadSeqs.contains(t) || seqs.head == startSeq + 1)
        require(contiguous,
          s"redo thread $t: batch range ($startSeq, $endSeq] admitted " +
            s"earlier now lists only seqs ${seqs.mkString(",")} — a log " +
            "was removed between admission and planning; the batch " +
            "cannot proceed without losing its data")
      }
    }
    // report only a VALIDATED batch: a continuity failure above aborts
    // the batch, and its logs must not read as mined
    reportedSoFar = RedoFileOffset(reportedSoFar.threadSeqs ++ e.threadSeqs)
    if (fresh.nonEmpty) onMined(fresh)
    selected
      .map { case (f, _, _) =>
        RedoFilePartition(f, tables, ops, metricsName): InputPartition
      }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = new RedoReaderFactory
}

case class RedoFilePartition(file: String, tables: Seq[String], ops: Seq[Int],
    metricsName: Option[String] = None)
    extends InputPartition

class RedoReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RedoFilePartition]
    new PartitionReader[InternalRow] {
      private val matches = RedoLogSource.tableMatcher(p.tables)
      private val opSet = p.ops.toSet
      private val it = {
        // recordsFrom drains the source before returning the iterator
        // (archived segments are bounded), so close eagerly
        val src = RedoStorageProvider.forPath(p.file).open(p.file)
        try RedoLogReader.recordsFrom(src, p.file, 1, 0) finally src.close()
      }.filter { r =>
        // P1/P2 pruning at the scan: control records (COMMIT/ROLLBACK,
        // empty table) always pass so transactions still terminate, and
        // session-audit records bypass BOTH the op filter AND the table
        // filter (they are transaction metadata, not data changes — a
        // writer may stamp them with any table name, and dropping one
        // would null out every P7 pseudo-column for its transaction)
        val inScope =
          r.table.isEmpty || r.op == graft.cdc.Ops.Audit || matches(r.table)
        // K6 telemetry: out-of-scope data records count where they are
        // pruned (per-executor JVM; exact under local[])
        if (!inScope) p.metricsName.foreach(
          graft.metrics.SourceConnMetrics.markOutOfScope)
        inScope &&
          (opSet.isEmpty || opSet.contains(r.op) ||
            r.op == graft.cdc.Ops.Commit || r.op == graft.cdc.Ops.Rollback ||
            r.op == graft.cdc.Ops.Audit)
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = RedoLogSource.toRow(it.next()); true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
