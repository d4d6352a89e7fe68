package graft.perf

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans of one traced run, kept in memory and written once at the end.
  *
  * A span has a name, start and end (ns on the JVM's monotonic clock,
  * relative to the recorder's creation), the id of the span that caused
  * it (0 for a root) and the run id shared by every span of the run. With
  * tracing off, `span` runs the body and records nothing.
  */
final class Spans(val enabled: Boolean, val runId: String) {
  private final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int)
  private val origin = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized {
          done += Span(id, name, t0 - origin, t1 - origin, parents.headOption.getOrElse(0))
        }
      }
    }

  def count: Int = synchronized(done.size)

  /** One JSON object per line: id, name, start_ns, end_ns, parent, run. */
  def write(file: File): Unit = if (enabled) {
    val out = new PrintWriter(file, "UTF-8")
    try synchronized {
      done.sortBy(_.start).foreach { s =>
        out.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
          s""""end_ns":${s.end},"parent":${s.parent},"run":"$runId"}""")
      }
    } finally out.close()
  }
}

/** Task, stage and job counters from the Spark listener bus, summed over
  * every job that ends while the listener is registered.
  */
final class SparkCounters extends SparkListener {
  private val taskTimes = ArrayBuffer.empty[(Int, Long)] // (stage, run ms)
  val stages = ArrayBuffer.empty[StageInfo]
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var cpuNs = 0L
  var runMs = 0L

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += e.stageInfo }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      gcMs += m.jvmGCTime
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      taskTimes += ((e.stageId, m.executorRunTime))
    }
  }

  /** Largest max/median task run time over stages with at least 2 tasks. */
  def taskSkew: Double = synchronized {
    taskTimes.groupBy(_._1).values.map(_.map(_._2).sorted).filter(_.size >= 2)
      .map { ts => ts.last.toDouble / math.max(1L, ts(ts.size / 2)) }
      .foldLeft(1.0)(math.max)
  }
}

/** Every streaming progress report, by batch id. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = collection.concurrent.TrieMap.empty[Long, org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.put(e.progress.batchId, e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Load and steal of the machine over a window, from /proc. */
object Box {
  def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Exception => 0.0 }

  /** (steal, total) jiffies of the aggregate cpu line. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val line = try f.getLines().next() finally f.close()
      val v = line.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      val kb = try f.getLines().find(_.startsWith("VmHWM:")).map(
        _.replaceAll("[^0-9]", "").toLong) finally f.close()
      kb.getOrElse(0L) / 1024.0
    } catch { case _: Exception => 0.0 }
}
