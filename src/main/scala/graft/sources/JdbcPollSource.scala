package graft.sources

import java.sql.{DriverManager, ResultSet}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-jdbc-poll` — SCN-windowed JDBC polling source (SURVEY.md §2.1
  * S3, the LogMiner-shaped path).
  *
  * The reference's LogMiner worker mines `V$LOGMNR_CONTENTS` in SCN
  * windows with the row filter pushed into the database
  * (`OraDictSqlTexts.java:516-597`); restart coordinates are the last
  * fully consumed SCN. Same shape here on any JDBC store: each
  * micro-batch covers one window `(startWm, endWm]` of a monotonically
  * increasing numeric watermark column (the SCN analogue), the window
  * predicate executes IN the database (scan-level pushdown — Spark never
  * sees out-of-window rows), the window splits into `numPartitions` value
  * ranges read concurrently, and the committed offset is the window's
  * upper bound.
  *
  * Options: `url`, `table` ("SCHEMA.TABLE"), `wmColumn` (numeric,
  * monotonic), `numPartitions` (positive, default 1), `startWm` (a
  * long, default 0), `fetchSize` (positive, default 1000 — the
  * reference's a2.fetch.size analogue), `lagBehind` (a long ≥ 0,
  * default 0). A bad value fails with an error naming the option.
  * Schema comes from the S9 dictionary reader on first touch.
  */
class JdbcPollSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jdbc-poll"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JdbcPollSource.schemaFor(options)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new JdbcPollTable(schema, new CaseInsensitiveStringMap(properties))
}

object JdbcPollSource {
  def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val url = require(options, "url")
    val Array(schema, table) = require(options, "table").split("\\.", 2)
    val conn = DriverManager.getConnection(url)
    try DictionaryReader.readTable(conn, schema, table).valueSchema
    finally conn.close()
  }

  private[sources] def require(o: CaseInsensitiveStringMap, k: String): String =
    Option(o.get(k)).getOrElse(
      throw new IllegalArgumentException(s"graft-jdbc-poll requires option '$k'"))

  /** ResultSet column → Catalyst value (null-safe). */
  private[sources] def readValue(rs: ResultSet, i: Int, dt: DataType): Any = {
    val v: Any = dt match {
      case ByteType => rs.getByte(i)
      case ShortType => rs.getShort(i)
      case IntegerType => rs.getInt(i)
      case LongType => rs.getLong(i)
      case FloatType => rs.getFloat(i)
      case DoubleType => rs.getDouble(i)
      case BooleanType => rs.getBoolean(i)
      case StringType => UTF8String.fromString(rs.getString(i))
      case _: DecimalType =>
        // null-check BEFORE wrapping: Decimal(null) NPEs, unlike every
        // other nullable accessor here which survives to wasNull()
        val bd = rs.getBigDecimal(i)
        if (bd == null) null else org.apache.spark.sql.types.Decimal(bd)
      case BinaryType => rs.getBytes(i)
      case TimestampNTZType =>
        // NTZ carries the LOCAL datetime as-if-UTC. Read the JDBC 4.2
        // LocalDateTime object directly: a java.sql.Timestamp round-trip
        // represents the value as an instant in the JVM default zone, so
        // a wall-clock value inside the zone's DST spring-forward gap
        // (02:30 on switch day) silently shifts by an hour. Drivers
        // predating java.time support fall back to the old path (which
        // is exact outside DST gaps).
        val ldt =
          try rs.getObject(i, classOf[java.time.LocalDateTime])
          catch {
            case _: java.sql.SQLException | _: AbstractMethodError =>
              val t = rs.getTimestamp(i)
              if (t == null) null else t.toLocalDateTime
          }
        if (ldt == null) null
        else ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000
      case TimestampType =>
        val t = rs.getTimestamp(i)
        if (t == null) null else t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
    if (rs.wasNull()) null else v
  }
}

class JdbcPollTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-jdbc-poll(${options.get("table")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(opts)
    val all = new CaseInsensitiveStringMap(merged)
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toMicroBatchStream(loc: String): MicroBatchStream =
          new JdbcPollStream(schema, all)
      }
    }
  }
}

case class WmOffset(wm: Long) extends Offset {
  override def json(): String = s"""{"wm":$wm}"""
}

class JdbcPollStream(schema: StructType, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import JdbcPollSource.require

  private val url = require(options, "url")
  private val table = require(options, "table")
  private val wmColumn = require(options, "wmColumn")
  private def invalid(option: String, v: String, why: String) =
    new IllegalArgumentException(s"graft-jdbc-poll option $option='$v' $why")
  /** Option `k` parsed by `parse`, `default` when absent. */
  private def opt[T](k: String, default: T, why: String)(parse: String => Option[T]): T =
    Option(options.get(k))
      .map(v => parse(v).getOrElse(throw invalid(k, v, why)))
      .getOrElse(default)
  private val numPartitions =
    opt("numPartitions", 1, "is not a positive integer")(_.toIntOption.filter(_ > 0))
  private val startWm = opt("startWm", 0L, "is not a long")(_.toLongOption)
  private val fetchSize =
    opt("fetchSize", 1000, "is not a positive integer")(_.toIntOption.filter(_ > 0))
  // Commit-visibility margin: MAX(wm) sees only COMMITTED rows, but a
  // writer can hold wm=100 uncommitted while wm=101 commits first —
  // advancing the offset to 101 would skip row 100 forever once it
  // lands. `lagBehind` keeps the window end that many wm units behind
  // the observed MAX so in-flight writers get that much time to commit;
  // rows beyond the margin are read by LATER batches (never twice —
  // the offset only advances to max-lag). Size it to the writers' max
  // transaction duration in wm units; 0 (default) preserves the
  // poll-only semantics for gap-free monotonic feeds.
  private val lagBehind =
    opt("lagBehind", 0L, "is not a long >= 0")(_.toLongOption.filter(_ >= 0))

  override def initialOffset(): Offset = WmOffset(startWm)

  private def pollMaxWm(): WmOffset = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT MAX($wmColumn) FROM $table")
      rs.next()
      val max = rs.getLong(1)
      WmOffset(if (rs.wasNull()) startWm
        else math.max(max - lagBehind, startWm))
    } finally conn.close()
  }

  // Trigger.AvailableNow: pin the watermark once at query start so the
  // run drains exactly the rows that existed then and terminates, even
  // while writers keep appending
  @volatile private var pinnedWm: Option[WmOffset] = None
  override def prepareForTriggerAvailableNow(): Unit = pinnedWm = Some(pollMaxWm())
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // clamp to the committed start: a polled max BELOW it (restart with
    // a larger lagBehind, or high-watermark rows deleted) would regress
    // the checkpoint, and the next advance past it would re-emit every
    // already-delivered row in the regressed window
    val polled = pinnedWm.getOrElse(pollMaxWm()).wm
    WmOffset(math.max(polled, start.asInstanceOf[WmOffset].wm))
  }
  override def reportLatestOffset(): Offset = pollMaxWm()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")
  override def deserializeOffset(json: String): Offset =
    WmOffset("""-?\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"unparseable graft-jdbc-poll offset: '$json' — a corrupted " +
          "checkpoint must fail, not silently restart from startWm")))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WmOffset].wm
    val e = end.asInstanceOf[WmOffset].wm
    if (e <= s) Array.empty
    else {
      // split the (s, e] watermark window into value ranges — the
      // per-partition predicates execute in the database
      val n = math.min(numPartitions.toLong, e - s).toInt
      val step = (e - s) / n
      (0 until n).map { i =>
        val lo = s + i * step
        val hi = if (i == n - 1) e else s + (i + 1) * step
        JdbcPollPartition(url, table, wmColumn, lo, hi, fetchSize): InputPartition
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JdbcPollReaderFactory(schema)
}

case class JdbcPollPartition(url: String, table: String, wmColumn: String,
    lo: Long, hi: Long, fetchSize: Int) extends InputPartition

class JdbcPollReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[JdbcPollPartition]
    new PartitionReader[InternalRow] {
      private val conn = DriverManager.getConnection(p.url)
      private val rs =
        try {
          // no ORDER BY: nothing downstream assumes intra-partition order
          // (the stitcher documents "chunk arrival order is NOT assumed",
          // and commit ordering rides the assembler's sort) — forcing the
          // database to sort every window on an unindexed wm column was
          // pure wasted work per micro-batch
          val st = conn.prepareStatement(
            s"SELECT * FROM ${p.table} WHERE ${p.wmColumn} > ? AND ${p.wmColumn} <= ?")
          st.setLong(1, p.lo)
          st.setLong(2, p.hi)
          st.setFetchSize(p.fetchSize)
          st.executeQuery()
        } catch {
          case e: Throwable => conn.close(); throw e // no reader → no close()
        }

      override def next(): Boolean = rs.next()
      override def get(): InternalRow =
        InternalRow.fromSeq(schema.fields.zipWithIndex.map { case (f, i) =>
          JdbcPollSource.readValue(rs, i + 1, f.dataType)
        }.toSeq)
      override def close(): Unit = {
        val st = rs.getStatement
        rs.close()
        if (st != null) st.close()
        conn.close()
      }
    }
  }
}
