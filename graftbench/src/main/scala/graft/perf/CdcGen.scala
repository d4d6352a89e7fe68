package graft.perf

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.cdc.{Ops, RedoRecord}
import graft.redo.RedoLogWriter

/** Seeded OLTP redo traffic and the generator's own model of what the
  * engine must deliver for it.
  *
  * Each redo thread keeps a pool of concurrently open transactions and
  * emits one record of a randomly chosen open transaction at a time, so
  * transactions interleave and a share of them commit in a later log file
  * than their first statement. Keys are Zipf-skewed. A transaction rolls
  * back whole with probability `rollbackFrac`; a committed one carries a
  * partial rollback (a rollback-flagged record undoing its latest
  * statement) with probability `partialFrac`.
  *
  * The model is stated from the generator's intent alone: a rolled-back
  * transaction contributes nothing, a partially rolled-back statement is
  * removed, and every surviving statement is stamped with its
  * transaction's commit SCN. Nothing here calls the engine's assembler.
  */
object CdcGen {

  /** Traffic shape. `files` and `recordsPerFile` are per redo thread; a
    * row is wide (a payload of `payloadMin`..`payloadMax` bytes, spanning
    * several 1024-byte blocks) with probability `wideFrac`.
    */
  final case class Shape(threads: Int, files: Int, recordsPerFile: Int,
      stmtsMin: Int, stmtsMax: Int, concurrency: Int,
      rollbackFrac: Double, partialFrac: Double,
      wideFrac: Double, payloadMin: Int, payloadMax: Int, keys: Int)

  val Tables: Vector[String] =
    Vector("SHOP.ORDERS", "SHOP.ITEMS", "SHOP.CUSTOMERS", "SHOP.PAYMENTS")
  val BlockSize = 1024
  private val Statuses = Vector("NEW", "PAID", "SHIPPED", "CLOSED", "HELD")
  private val Words = Vector("alpha", "bravo", "delta", "echo", "kilo",
    "lima", "oscar", "romeo", "sierra", "tango", "victor", "zulu")
  private val BaseMs = 1700000000000L

  /** One log file of one redo thread, with its records in log order. */
  final case class LogFile(thread: Int, seq: Int, records: Array[RedoRecord]) {
    def name: String = f"thread$thread%d_$seq%06d.grl"
    /** Writes the file with the engine's writer (temp name + atomic rename). */
    def write(dir: File): File = {
      val f = new File(dir, name)
      val w = new RedoLogWriter(f, BlockSize, seq, thread)
      records.foreach(w.append)
      w.close()
      f
    }
  }

  /** A change the engine must deliver; `commitFile` indexes the thread's
    * file list.
    */
  final case class Change(xid: String, thread: Int, commitScn: Long, scn: Long,
      table: String, op: Int, rowId: String, tsMicros: Long,
      before: Map[String, String], after: Map[String, String], commitFile: Int)

  /** A finished transaction: where its commit landed and whether it committed. */
  final case class Txn(xid: String, thread: Int, committed: Boolean,
      firstFile: Int, commitFile: Int, partial: Boolean)

  final case class Generated(files: IndexedSeq[LogFile],
      changes: IndexedSeq[Change], txns: IndexedSeq[Txn]) {
    def committed: Int = txns.count(_.committed)
    def crossFileFrac: Double =
      txns.count(t => t.commitFile > t.firstFile).toDouble / math.max(1, txns.size)
    /** Files of one thread, in sequence order. */
    def filesOf(thread: Int): IndexedSeq[LogFile] = files.filter(_.thread == thread)
  }

  private final class Stmt(val table: String, val op: Int, val rowId: String,
      val before: Map[String, String], val after: Map[String, String],
      val rollback: Boolean) {
    var scn: Long = 0L
    var cancelled: Boolean = false
  }

  private final class Open(val xid: String, val steps: ArrayBuffer[Stmt],
      val committed: Boolean, val partial: Boolean) {
    var next = 0
    var firstPos: Long = -1L
  }

  /** Generates every thread's files. Deterministic in (`shape`, `seed`). */
  def generate(shape: Shape, seed: Long): Generated = {
    val zipf = zipfCdf(shape.keys, 1.1)
    val files = ArrayBuffer.empty[LogFile]
    val changes = ArrayBuffer.empty[Change]
    val txns = ArrayBuffer.empty[Txn]
    (1 to shape.threads).foreach { t =>
      val rnd = new SplittableRandom(seed * 7919L + t)
      val recs = ArrayBuffer.empty[RedoRecord]
      val target = shape.files.toLong * shape.recordsPerFile
      val pool = ArrayBuffer.empty[Open]
      var txnNo = 0
      var counter = 0L
      def fileOf(pos: Long): Int =
        math.min(shape.files - 1, (pos / shape.recordsPerFile).toInt)
      while (recs.size < target || pool.nonEmpty) {
        while (recs.size < target && pool.size < shape.concurrency) {
          txnNo += 1
          pool += newTxn(shape, rnd, zipf, f"$t%02d.$txnNo%07d")
        }
        val i = rnd.nextInt(pool.size)
        val tx = pool(i)
        counter += 1
        val scn = counter * shape.threads + t
        val ts = (BaseMs + scn) * 1000L
        if (tx.firstPos < 0) tx.firstPos = recs.size.toLong
        if (tx.next < tx.steps.size) {
          val s = tx.steps(tx.next)
          s.scn = scn
          recs += RedoRecord(scn, 0, tx.xid, s.op, s.table, s.rowId,
            s.rollback, ts, s.before, s.after)
          tx.next += 1
        } else {
          val commitFile = fileOf(recs.size.toLong)
          recs += RedoRecord(scn, 0, tx.xid,
            if (tx.committed) Ops.Commit else Ops.Rollback, "", "",
            rollback = false, ts, Map.empty, Map.empty)
          if (tx.committed) tx.steps.foreach { s =>
            if (!s.rollback && !s.cancelled)
              changes += Change(tx.xid, t, scn, s.scn, s.table, s.op, s.rowId,
                (BaseMs + s.scn) * 1000L, s.before, s.after, commitFile)
          }
          txns += Txn(tx.xid, t, tx.committed, fileOf(tx.firstPos), commitFile,
            tx.partial)
          pool(i) = pool(pool.size - 1)
          pool.remove(pool.size - 1)
        }
      }
      // the last file takes the tail of the drained pool
      (0 until shape.files).foreach { f =>
        val from = f * shape.recordsPerFile
        val until = if (f == shape.files - 1) recs.size else from + shape.recordsPerFile
        files += LogFile(t, f + 1, recs.slice(from, until).toArray)
      }
    }
    Generated(files.toIndexedSeq, changes.toIndexedSeq, txns.toIndexedSeq)
  }

  private def newTxn(shape: Shape, rnd: SplittableRandom, zipf: Array[Double],
      xid: String): Open = {
    val n = shape.stmtsMin + rnd.nextInt(shape.stmtsMax - shape.stmtsMin + 1)
    val committed = rnd.nextDouble() >= shape.rollbackFrac
    val steps = ArrayBuffer.empty[Stmt]
    (0 until n).foreach(_ => steps += statement(shape, rnd, zipf))
    // partial rollback: undo the latest statement so far — the nearest
    // prior change on its row, so the undo cancels exactly that one
    val partial = committed && n >= 2 && rnd.nextDouble() < shape.partialFrac
    if (partial) {
      val at = 1 + rnd.nextInt(n - 1) // after statement `at - 1`
      val victim = steps(at - 1)
      victim.cancelled = true
      val undoOp = victim.op match {
        case Ops.Insert => Ops.Delete
        case Ops.Delete => Ops.Insert
        case other => other
      }
      steps.insert(at, new Stmt(victim.table, undoOp, victim.rowId,
        victim.after, victim.before, rollback = true))
    }
    new Open(xid, steps, committed, partial)
  }

  private def statement(shape: Shape, rnd: SplittableRandom,
      zipf: Array[Double]): Stmt = {
    val ti = rnd.nextInt(Tables.size)
    val id = sampleZipf(zipf, rnd)
    val rowId = f"AAA$ti%02dB$id%08d"
    val wide = rnd.nextDouble() < shape.wideFrac
    def row(): Map[String, String] = {
      val base = Map("ID" -> id.toString,
        "STATUS" -> Statuses(rnd.nextInt(Statuses.size)),
        "AMOUNT" -> rnd.nextInt(1000000).toString,
        "NOTE" -> s"${Words(rnd.nextInt(Words.size))} ${Words(rnd.nextInt(Words.size))}")
      if (wide) base + ("PAYLOAD" -> payload(shape, rnd)) else base
    }
    val p = rnd.nextDouble()
    if (p < 0.3) new Stmt(Tables(ti), Ops.Insert, rowId, Map.empty, row(), false)
    else if (p < 0.8) {
      val before = row()
      val set0 = Map("STATUS" -> Statuses(rnd.nextInt(Statuses.size)),
        "AMOUNT" -> rnd.nextInt(1000000).toString)
      val set = if (wide) set0 + ("PAYLOAD" -> payload(shape, rnd)) else set0
      new Stmt(Tables(ti), Ops.Update, rowId, before, set, false)
    } else new Stmt(Tables(ti), Ops.Delete, rowId, row(), Map.empty, false)
  }

  private def payload(shape: Shape, rnd: SplittableRandom): String = {
    val n = shape.payloadMin + rnd.nextInt(shape.payloadMax - shape.payloadMin + 1)
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = ('a' + rnd.nextInt(26)).toChar; i += 1 }
    new String(cs)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def sampleZipf(cdf: Array[Double], rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else math.min(cdf.length - 1, -i - 1)) + 1
  }

  // ---- order-independent digest of delivered changes -------------------

  /** Canonical text of one delivered change, shared by the model side and
    * the engine-output side of the backfill check.
    */
  def canon(table: String, xid: String, scn: Long, commitScn: Long,
      rowId: String, opLetter: String, tsMs: Long,
      before: collection.Map[String, String],
      after: collection.Map[String, String]): String = {
    def m(x: collection.Map[String, String]): String =
      x.toSeq.sortBy(_._1).map { case (k, v) =>
        s"$k=${if (v == null) "\u0000" else v}" }.mkString("\u0001")
    Seq(table, xid, scn.toString, commitScn.toString, rowId, opLetter,
      tsMs.toString, m(before), m(after)).mkString("\u0002")
  }

  def digest64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def opLetter(op: Int): String = op match {
    case Ops.Insert => "c"
    case Ops.Update => "u"
    case Ops.Delete => "d"
    case _ => "?"
  }

  def canon(c: Change): String =
    canon(c.table, c.xid, c.scn, c.commitScn, c.rowId, opLetter(c.op),
      c.tsMicros / 1000L, c.before, c.after)
}
