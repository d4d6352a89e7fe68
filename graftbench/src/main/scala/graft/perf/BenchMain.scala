package graft.perf

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.cdc.{EmittedChange, RedoRecord}
import graft.operators.{BenchTaps, DedupQueries, PipelineQueries}
import graft.redo.RedoLogReader
import graft.sinks.KafkaContractSink
import graft.streaming.{ChangeStreams, Envelopes}

/** The JVM half of the benchmark: builds a warm session, generates the CDC
  * inputs from the seed, times the workload through the engine's public
  * entry points, and writes its measurements plus the material the output
  * checks need (the engine's outputs and the generator's model) as files
  * under the work directory. `run.py` drives it and does the checking.
  *
  * Usage: BenchMain --mode run|gen --workload W --seed N --seconds S
  *   --trace 0|1 --work DIR --cores N --launch-ms EPOCH_MS
  */
object BenchMain {

  final case class Args(mode: String, workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: File, cores: Int, launchMs: Long)

  /** cdc_stream: small OLTP transactions on one redo thread. */
  object Stream {
    val shape: CdcGen.Shape = CdcGen.Shape(threads = 1, files = 0,
      recordsPerFile = 190, stmtsMin = 1, stmtsMax = 10, concurrency = 12,
      rollbackFrac = 0.10, partialFrac = 0.15,
      wideFrac = 0.0, payloadMin = 0, payloadMax = 0, keys = 20000)
    val maxFilesPerTrigger = 32
    val partitions = 4
    /** Backlog drained in phase one: about half the run at the drain rate
      * this engine had when the benchmark was defined (~20 files/s).
      */
    val backlogFilesPerSec = 9.6
    /** Phase-two publish rate for the other half of the run: about half
      * that drain rate, frozen as a constant since.
      */
    val pacedFilesPerSec = 9.0
    val warmFiles = 36
    val warmMaxFiles = 12
  }

  /** cdc_backfill: big transactions and wide rows over 4 redo threads. */
  object Backfill {
    val shape: CdcGen.Shape = CdcGen.Shape(threads = 4, files = 4,
      recordsPerFile = 2500, stmtsMin = 200, stmtsMax = 1500, concurrency = 3,
      rollbackFrac = 0.10, partialFrac = 0.15,
      wideFrac = 0.3, payloadMin = 1500, payloadMax = 4000, keys = 50000)
    val warm: CdcGen.Shape = shape.copy(files = 1, recordsPerFile = 1500)
  }

  private val metrics = collection.mutable.LinkedHashMap.empty[String, Double]
  private def put(k: String, v: Double): Unit = metrics(k) = v
  private val notes = collection.mutable.LinkedHashMap.empty[String, String]

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    a.mode match {
      case "gen" => generateOnly(a)
      case "run" => run(a)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(m.getOrElse("mode", "run"), need("workload"), need("seed").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      new File(need("work")), m.getOrElse("cores", "4").toInt,
      m.getOrElse("launch-ms", System.currentTimeMillis().toString).toLong)
  }

  /** Writes the workload's generated log files only (self-test surface). */
  private def generateOnly(a: Args): Unit = {
    val dir = new File(a.work, "gen")
    dir.mkdirs()
    val gen = a.workload match {
      case "cdc_stream" => CdcGen.generate(streamShape(a), a.seed)
      case "cdc_backfill" => CdcGen.generate(Backfill.shape, a.seed)
      case other => throw new IllegalArgumentException(s"no log files for $other")
    }
    gen.files.foreach(_.write(dir))
    println(s"wrote ${gen.files.size} files, ${gen.txns.size} transactions, " +
      f"cross-file commits ${gen.crossFileFrac}%.3f")
  }

  private def streamFiles(a: Args): (Int, Int) = {
    val backlog = math.max(2, math.round(a.seconds * Stream.backlogFilesPerSec).toInt)
    val paced = math.max(2, math.round(a.seconds / 2 * Stream.pacedFilesPerSec).toInt)
    (backlog, paced)
  }
  private def streamShape(a: Args): CdcGen.Shape = {
    val (b, p) = streamFiles(a)
    Stream.shape.copy(files = b + p)
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(a: Args): Unit = {
    val spans = new Spans(a.trace, s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val spark = spans.span("setup.session")(session(a))
    try {
      a.workload match {
        case "cdc_stream" => cdcStream(spark, a, spans)
        case "cdc_backfill" => cdcBackfill(spark, a, spans)
        case "curate" => curate(spark, a, spans)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      put("peak_rss_mb", Box.peakRssMb())
      if (a.trace) put("trace.spans", spans.count.toDouble)
      spans.write(new File(a.work, "spans.jsonl"))
      writeResult(new File(a.work, "jvm_result.json"))
    } finally spark.stop()
  }

  private def setupDone(a: Args): Unit =
    put("setup_s", (System.currentTimeMillis() - a.launchMs) / 1000.0)

  private def fresh(dir: File): File = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(dir)
    dir.mkdirs()
    dir
  }

  // ---- cdc_stream ----------------------------------------------------------

  private final class StreamRun(val logDir: File, val sinkDir: File,
      val ckptDir: File) {
    val deliveredAt = TrieMap.empty[Long, Long]
    val writeMs = TrieMap.empty[Long, Double]
    val replays = new AtomicInteger()
  }

  private def startStream(spark: SparkSession, r: StreamRun, spans: Spans,
      maxFiles: Int = Stream.maxFilesPerTrigger) = {
    import spark.implicits._
    val records = spark.readStream.format("graft-redo")
      .option("maxFilesPerTrigger", maxFiles.toString)
      .load(r.logDir.getAbsolutePath).as[RedoRecord]
    // kafkaKeyValue keeps only table/key/value/operation, so the commit
    // order the sink must preserve rides through it inside `table`
    val tagged = ChangeStreams.assembleStream(records)
      .withColumn("table", concat_ws("|", col("table"),
        col("commitScn").cast("string"), col("scn").cast("string")))
      .as[EmittedChange]
    val parts = split(col("table"), "\\|")
    val key = to_json(col("key"))
    val out = Envelopes.kafkaKeyValue(tagged, Seq("ID")).select(
      KafkaContractSink.defaultTopicColumn(parts.getItem(0)).as("topic"),
      KafkaContractSink.keyHashPartition(key, Stream.partitions).as("partition"),
      key.as("key"),
      to_json(struct(col("operation").as("op"), col("value").as("row"))).as("value"),
      parts.getItem(1).cast("long").as("commit_scn"),
      parts.getItem(2).cast("long").as("scn"))
    out.writeStream
      .queryName("cdc_stream")
      .option("checkpointLocation", r.ckptDir.getAbsolutePath)
      .foreachBatch { (df: DataFrame, bid: Long) =>
        spans.span("stream.batch") {
          val replay = new File(r.sinkDir, s".batch-$bid.done").exists()
          val t0 = System.nanoTime()
          spans.span("sink.writeBatch") {
            KafkaContractSink.writeBatch(df, r.sinkDir.getAbsolutePath,
              Seq("commit_scn", "scn"), bid)
          }
          val t1 = System.nanoTime()
          r.writeMs(bid) = (t1 - t0) / 1e6
          r.deliveredAt(bid) = t1
          if (replay) r.replays.incrementAndGet()
        }
        ()
      }
      .start()
  }

  private def endSeq(p: StreamingQueryProgress): Int =
    """:\s*(-?\d+)""".r.findFirstMatchIn(Option(p.sources.head.endOffset).getOrElse(""))
      .map(_.group(1).toInt).getOrElse(0)
  private def latestSeq(p: StreamingQueryProgress): Int =
    """:\s*(-?\d+)""".r.findFirstMatchIn(Option(p.sources.head.latestOffset).getOrElse(""))
      .map(_.group(1).toInt).getOrElse(0)

  /** Blocks until the query's progress covers log `seq`; the batch id that
    * first covered it.
    */
  private def awaitSeq(q: org.apache.spark.sql.streaming.StreamingQuery,
      seq: Int, timeoutMs: Long): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (true) {
      q.exception.foreach(e => throw e)
      val hit = q.recentProgress.filter(p => p.sources.nonEmpty && endSeq(p) >= seq)
      if (hit.nonEmpty) return hit.map(_.batchId).min
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"stream did not reach log seq $seq in time")
      Thread.sleep(2)
    }
    -1L
  }

  private def cdcStream(spark: SparkSession, a: Args, spans: Spans): Unit = {
    val base = new File(a.work, "cdc_stream")
    def dirs(name: String) = new StreamRun(fresh(new File(base, s"$name/logs")),
      fresh(new File(base, s"$name/sink")), fresh(new File(base, s"$name/ckpt")))

    // set-up: one short stream of the same query, to completion, in a few
    // small batches so the per-batch path is compiled before timing
    spans.span("setup.warmup") {
      val warm = CdcGen.generate(Stream.shape.copy(files = Stream.warmFiles), a.seed ^ 0x5eedL)
      val w = dirs("warm")
      warm.files.foreach(_.write(w.logDir))
      val q = startStream(spark, w, new Spans(false, ""), Stream.warmMaxFiles)
      awaitSeq(q, Stream.warmFiles, 120000)
      q.stop()
    }
    setupDone(a)

    val (backlog, paced) = streamFiles(a)
    val gen = spans.span("input.generate")(CdcGen.generate(streamShape(a), a.seed))
    val r = dirs("run")
    spans.span("input.backlog")(gen.files.take(backlog).foreach(_.write(r.logDir)))
    writeStreamModel(gen, new File(base, "expected.jsonl"))
    System.gc()  // the measured stream starts from an empty young generation

    val progress = new ProgressLog
    val counters = new SparkCounters
    if (a.trace) {
      spark.streams.addListener(progress)
      spark.sparkContext.addSparkListener(counters)
    }
    val box0 = Box.cpuTicks()
    val tStart = System.nanoTime()
    val dueAt = new Array[Long](paced)
    val publishedAt = new Array[Long](paced)
    val q = spans.span("stream.start")(startStream(spark, r, spans))
    try {
      val drainBatch = awaitSeq(q, backlog, 150000)
      val drainEnd = r.deliveredAt(drainBatch)
      // phase two: the open-loop publisher, one thread on a fixed schedule
      val t1 = System.nanoTime()
      val publisher = new Thread(() => {
        var i = 0
        while (i < paced) {
          val due = t1 + (i * 1e9 / Stream.pacedFilesPerSec).toLong
          var now = System.nanoTime()
          while (now < due) {
            val ms = (due - now) / 1000000L
            if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
            now = System.nanoTime()
          }
          dueAt(i) = due
          gen.files(backlog + i).write(r.logDir)
          publishedAt(i) = System.nanoTime()
          i += 1
        }
      }, "graftbench-publisher")
      publisher.start()
      publisher.join()
      val lastBatch = awaitSeq(q, backlog + paced, 150000)
      val tEnd = r.deliveredAt(lastBatch)
      q.stop()
      val box1 = Box.cpuTicks()

      // batch → highest log seq it delivered (from the progress model)
      val progs = q.recentProgress.filter(_.sources.nonEmpty).sortBy(_.batchId)
      val batchEnd = progs.map(p => p.batchId -> endSeq(p))
      def deliveredBy(seq: Int): Long = batchEnd.find(_._2 >= seq).get._1
      // drain rate over the batches after the first: the first also pays
      // the query's start (initial planning, state store creation)
      val firstSeq = batchEnd.head._2
      require(drainBatch > batchEnd.head._1, "backlog drained in one batch; raise --seconds")
      val drainWallS = (drainEnd - r.deliveredAt(batchEnd.head._1)) / 1e9
      val drained = gen.changes.filter(c => c.commitFile >= firstSeq && c.commitFile < backlog)
      put("rows_per_s", drained.size / drainWallS)
      val drainedBytes = gen.files.slice(firstSeq, backlog)
        .map(f => new File(r.logDir, f.name).length()).sum
      put("input_mb_per_s", drainedBytes / 1e6 / drainWallS)
      // one sample per committed transaction whose commit is in a paced file
      val lat = gen.txns.filter(t => t.committed && t.commitFile >= backlog).map { t =>
        val i = t.commitFile - backlog
        (r.deliveredAt(deliveredBy(t.commitFile + 1)) - dueAt(i)) / 1e6
      }.sorted
      put("latency_p50_ms", quantile(lat, 0.5))
      put("latency_p90_ms", quantile(lat, 0.9))
      notes("latency_samples") = lat.size.toString
      notes("drain_batches") = (drainBatch + 1).toString
      notes("drain_files_per_s") = f"${(backlog - firstSeq) / drainWallS}%.2f"
      put("attempted", gen.txns.size.toDouble)
      notes("sink_dir") = r.sinkDir.getAbsolutePath
      notes("expected") = new File(base, "expected.jsonl").getAbsolutePath
      notes("cross_file_commit_frac") = f"${gen.crossFileFrac}%.3f"

      if (a.trace) {
        val wallS = (tEnd - tStart) / 1e9
        sparkMetrics(counters, wallS, a.cores)
        boxMetrics(box0, box1)
        spark.sparkContext.removeSparkListener(counters)
        streamLayerMetrics(progress, r, paced, dueAt, publishedAt)
        put("trace.rows_per_s", drained.size / drainWallS)
        spark.streams.removeListener(progress)
        redoProbes(spark, r.logDir, spans)
      }
    } finally if (q.isActive) q.stop()
  }

  private def streamLayerMetrics(progress: ProgressLog, r: StreamRun,
      paced: Int, dueAt: Array[Long], publishedAt: Array[Long]): Unit = {
    // the listener bus delivers progress asynchronously; wait for the tail
    val want = r.deliveredAt.keys.max
    val deadline = System.currentTimeMillis() + 10000
    while (!progress.progress.contains(want) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    val ps = progress.progress.values.toSeq.filter(_.sources.nonEmpty).sortBy(_.batchId)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    def med(f: StreamingQueryProgress => Double): Double = quantile(ps.map(f).sorted, 0.5)
    put("source.latest_offset_ms", med(dur(_, "latestOffset")))
    put("source.get_batch_ms", med(dur(_, "getBatch")))
    put("source.lag_files", ps.map(p => (latestSeq(p) - endSeq(p)).toDouble).foldLeft(0.0)(math.max))
    put("stream.planning_ms", med(dur(_, "queryPlanning")))
    put("stream.trigger_ms", med(dur(_, "triggerExecution")))
    put("stream.wal_commit_ms", med(p => dur(p, "walCommit") + dur(p, "commitOffsets")))
    val st = ps.flatMap(_.stateOperators.headOption)
    put("state.rows_total", st.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max))
    put("state.bytes", st.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max))
    put("state.commit_ms", quantile(st.map(_.commitTimeMs.toDouble).sorted, 0.5))
    val w = r.writeMs.values.toSeq.sorted
    put("sink.write_ms_p50", quantile(w, 0.5))
    put("sink.write_ms_total", w.sum)
    put("sink.replays_skipped", r.replays.get().toDouble)
    put("sink.rows", Option(r.sinkDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.contains(".jsonl.b"))
      .map(f => java.nio.file.Files.lines(f.toPath).count()).sum.toDouble)
    put("gen.late_ms_max", (0 until paced).map(i => (publishedAt(i) - dueAt(i)) / 1e6)
      .foldLeft(0.0)(math.max))
    put("stream.batches", ps.size.toDouble)
  }

  /** Expected (topic, partition) sequences: every surviving change of a
    * committed transaction, in commit-SCN order, as the sink must write it.
    */
  private def writeStreamModel(gen: CdcGen.Generated, file: File): Unit = {
    val out = new PrintWriter(file, "UTF-8")
    try gen.changes.sortBy(c => (c.commitScn, c.scn)).foreach { c =>
      val img = if (c.op == graft.cdc.Ops.Delete) c.before else c.after
      val alt = if (c.op == graft.cdc.Ops.Delete) c.after else c.before
      val id = img.getOrElse("ID", alt("ID"))
      val keyJson = s"""{"ID":${jstr(id)}}"""
      val kb = keyJson.getBytes("UTF-8")
      val h = Murmur3_x86_32.hashUnsafeBytes(kb, Platform.BYTE_ARRAY_OFFSET, kb.length, 42)
      val partition = ((h % Stream.partitions) + Stream.partitions) % Stream.partitions
      val topic = c.table.split('.').filter(_.nonEmpty).map(_.replaceAll("[^A-Za-z0-9_]", "_"))
        .mkString("_")
      val opName = c.op match {
        case graft.cdc.Ops.Insert => "INSERT"
        case graft.cdc.Ops.Update => "UPDATE"
        case graft.cdc.Ops.Delete => "DELETE"
      }
      out.println(s"""{"t":${jstr(topic)},"p":$partition,"k":$keyJson,""" +
        s""""v":{"op":"$opName","row":${jmap(img)}},"x":${jstr(c.xid)}}""")
    } finally out.close()
  }

  // ---- cdc_backfill ----------------------------------------------------------

  private def backfillPass(spark: SparkSession, dir: File): DataFrame = {
    import spark.implicits._
    val records = spark.read.format("graft-redo").load(dir.getAbsolutePath).as[RedoRecord]
    Envelopes.debezium(ChangeStreams.assembleBatch(records), "BENCH")
  }

  private def cdcBackfill(spark: SparkSession, a: Args, spans: Spans): Unit = {
    val base = new File(a.work, "cdc_backfill")
    spans.span("setup.warmup") {
      val warmDir = fresh(new File(base, "warm"))
      CdcGen.generate(Backfill.warm, a.seed ^ 0x5eedL).files.foreach(_.write(warmDir))
      (1 to 2).foreach(_ => backfillPass(spark, warmDir).write.format("noop").mode("overwrite").save())
    }
    setupDone(a)

    val dir = fresh(new File(base, "logs"))
    val gen = spans.span("input.generate")(CdcGen.generate(Backfill.shape, a.seed))
    spans.span("input.write")(gen.files.foreach(_.write(dir)))
    val bytes = dir.listFiles().map(_.length()).sum
    val records = gen.files.map(_.records.length).sum
    writeDigests(gen.changes.iterator.map(c => c.xid -> CdcGen.canon(c)),
      new File(base, "expected.json"))

    val counters = new SparkCounters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val box0 = Box.cpuTicks()
    val walls = timedPasses(a.seconds, minPasses = 2) {
      spans.span("backfill.pass") {
        backfillPass(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }
    val box1 = Box.cpuTicks()
    val med = quantile(walls, 0.5)
    // redo records read, not changes emitted: a rolled-back 1500-statement
    // transaction is still read, and committed output varies with the seed
    put("rows_per_s", records / med)
    put("input_mb_per_s", bytes / 1e6 / med)
    put("latency_p50_ms", med * 1000)
    put("latency_p90_ms", quantile(walls, 0.9) * 1000)
    notes("passes") = walls.size.toString
    put("attempted", gen.txns.size.toDouble)
    if (a.trace) {
      sparkMetrics(counters, walls.sum, a.cores)
      boxMetrics(box0, box1)
      spark.sparkContext.removeSparkListener(counters)
      put("trace.rows_per_s", records / med)
    }

    // output check material: the same plan once more, collected
    spans.span("check.collect") {
      val rows = backfillPass(spark, dir).toLocalIterator()
      import scala.jdk.CollectionConverters._
      writeDigests(rows.asScala.map { r =>
        val src = r.getStruct(r.fieldIndex("source"))
        val xid = src.getAs[String]("xid")
        xid -> CdcGen.canon(src.getAs[String]("table"), xid, src.getAs[Long]("scn"),
          src.getAs[Long]("commit_scn"), src.getAs[String]("row_id"),
          r.getAs[String]("op"), r.getAs[Long]("ts_ms"),
          r.getMap[String, String](r.fieldIndex("before")),
          r.getMap[String, String](r.fieldIndex("after")))
      }, new File(base, "actual.json"))
    }
    notes("expected") = new File(base, "expected.json").getAbsolutePath
    notes("actual") = new File(base, "actual.json").getAbsolutePath
    if (a.trace) redoProbes(spark, dir, spans)
  }

  /** Per-transaction change count and digest sum, plus the totals. */
  private def writeDigests(changes: Iterator[(String, String)], file: File): Unit = {
    val per = collection.mutable.HashMap.empty[String, (Long, Long)]
    changes.foreach { case (xid, canon) =>
      val (n, s) = per.getOrElse(xid, (0L, 0L))
      per(xid) = (n + 1, s + CdcGen.digest64(canon))
    }
    val out = new PrintWriter(file, "UTF-8")
    try {
      out.print(s"""{"count":${per.values.map(_._1).sum},"sum":${per.values.map(_._2).sum},"xids":{""")
      out.print(per.toSeq.sortBy(_._1).map { case (x, (n, s)) => s"${jstr(x)}:[$n,$s]" }.mkString(","))
      out.println("}}")
    } finally out.close()
  }

  /** Single-thread decode, scan-only and assemble-only timings over a log dir. */
  private def redoProbes(spark: SparkSession, dir: File, spans: Spans): Unit = {
    val files = dir.listFiles().filter(_.getName.endsWith(".grl")).sortBy(_.getName)
    val bytes = files.map(_.length()).sum
    var records = 0L
    val t0 = System.nanoTime()
    spans.span("probe.redo.decode") {
      files.foreach { f => records += RedoLogReader.records(f).size }
    }
    val decodeS = (System.nanoTime() - t0) / 1e9
    put("redo.decode_mb_per_s", bytes / 1e6 / decodeS)
    put("redo.records", records.toDouble)
    put("redo.blocks", files.map(f => f.length() / CdcGen.BlockSize - 1).sum.toDouble)
    import spark.implicits._
    def scan() = spark.read.format("graft-redo").load(dir.getAbsolutePath)
    val scanS = medianOf(3)(spans.span("probe.source.scan")(scan().write.format("noop").mode("overwrite").save()))
    put("source.scan_s", scanS)
    val asmS = medianOf(3)(spans.span("probe.assemble")(
      ChangeStreams.assembleBatch(scan().as[RedoRecord]).write.format("noop").mode("overwrite").save()))
    put("assemble.s", math.max(0.0, asmS - scanS))
  }

  // ---- curate ------------------------------------------------------------------

  private def curate(spark: SparkSession, a: Args, spans: Spans): Unit = {
    val base = new File(a.work, "curate")
    val corpus = new File(base, "docs").getAbsolutePath
    val pipe = PipelineQueries.queries("pipe_curate")
    // set-up: passes over a small corpus warm the planner and scheduler
    // code every pass runs ~30 jobs through; one pass over the corpus
    // itself then warms the kernels and fills the engine's per-corpus
    // benchmark-shingle memo that every later pass reuses
    spans.span("setup.warmup") {
      val warm = Seq.fill(3)(new File(base, "warm").getAbsolutePath) :+ corpus
      warm.foreach { c =>
        System.gc()  // as before each timed pass
        pipe(spark, c).write.format("noop").mode("overwrite").save()
      }
    }
    setupDone(a)
    val out = new PrintWriter(new File(base, "oracle.sql"), "UTF-8")
    try out.print(PipelineQueries.oracleSql("pipe_curate")) finally out.close()
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
      .select(count(lit(1)), sum(length(col("text")).cast("long"))).head()
    val nDocs = docs.getLong(0)
    val textBytes = docs.getLong(1)

    val counters = new SparkCounters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val box0 = Box.cpuTicks()
    var last: DataFrame = null
    val walls = timedPasses(a.seconds, minPasses = 2) {
      spans.span("curate.pass") {
        last = pipe(spark, corpus)
        last.write.format("noop").mode("overwrite").save()
      }
    }
    val box1 = Box.cpuTicks()
    val med = quantile(walls, 0.5)
    put("rows_per_s", nDocs / med)
    put("input_mb_per_s", textBytes / 1e6 / med)
    put("latency_p50_ms", med * 1000)
    put("latency_p90_ms", quantile(walls, 0.9) * 1000)
    notes("passes") = walls.size.toString
    put("attempted", nDocs.toDouble)

    // output check material: the last timed pass's manifest
    spans.span("check.collect") {
      val w = new PrintWriter(new File(base, "actual.jsonl"), "UTF-8")
      try last.collect().foreach { r =>
        val q = r.getAs[Double]("q")
        w.println(s"""{"doc_id":${r.getAs[Long]("doc_id")},"source":${jstr(r.getAs[String]("source"))},""" +
          s""""n_tok":${r.getAs[Int]("n_tok")},"q_bits":${java.lang.Double.doubleToLongBits(q)},""" +
          s""""norm_len":${r.getAs[Int]("norm_len")}}""")
      } finally w.close()
    }
    notes("actual") = new File(base, "actual.jsonl").getAbsolutePath

    if (a.trace) {
      sparkMetrics(counters, walls.sum, a.cores)
      boxMetrics(box0, box1)
      spark.sparkContext.removeSparkListener(counters)
      put("trace.rows_per_s", nDocs / med)
      // the fused stage-1..6 map pass is the stage that fills the
      // survivors cache; its wall per pass
      // the fused stage-1..6 map pass: per pass, the first stage that
      // fills the persisted survivors frame (the projection computing
      // n_tok) plus the map stage that ran the scan-side shuffle it
      // reads (under AQE an earlier job, found through RDD lineage)
      def wallS(st: org.apache.spark.scheduler.StageInfo): Double =
        (for (b <- st.submissionTime; e <- st.completionTime) yield (e - b) / 1000.0).getOrElse(0.0)
      val fills = counters.stages.flatMap(st => st.rddInfos.collect {
        case ri if ri.storageLevel.isValid && ri.name.contains(" AS n_tok#") => ri.id -> st
      }).groupBy(_._1).values.map(_.map(_._2).minBy(_.stageId))
      val fusedS = fills.toSeq.map { st =>
        val mapSide = st.rddInfos.filter(_.name == "ShuffledRowRDD").flatMap(_.parentIds).toSet
        val feeder = counters.stages.filter(_.rddInfos.exists(ri => mapSide(ri.id)))
        wallS(st) + feeder.map(wallS).sum
      }
      put("curate.fused_pass_s", if (fusedS.isEmpty) 0.0 else fusedS.sum / fusedS.size)
      dedupProbe(spark, corpus, spans)
    }
  }

  private def dedupProbe(spark: SparkSession, corpus: String, spans: Spans): Unit = {
    val hashes = DedupQueries.docShingleHashes(spark, corpus)
      .filter(size(col("hs")) > 0).persist()
    try {
      hashes.count()
      val cand = spans.span("probe.dedup.candidates")(BenchTaps.candidatePairs(hashes, 8).count())
      var verified = 0L
      val s = medianOf(3)(spans.span("probe.dedup.jaccard") {
        verified = DedupQueries.jaccardOnCandidates(hashes, Some(8)).count()
      })
      put("dedup.candidate_pairs", cand.toDouble)
      put("dedup.verified_pairs", verified.toDouble)
      put("dedup.verify_yield", if (cand == 0) 0.0 else verified.toDouble / cand)
      put("dedup.near_dup_s", s)
    } finally hashes.unpersist(blocking = true)
  }

  // ---- shared measurement helpers ------------------------------------------------

  /** Runs `body` until `seconds` of passes have been timed (at least
    * `minPasses` of them); the wall of each pass in seconds, sorted. A full
    * collection before each pass, outside its wall, starts every pass from
    * the same retained heap, so that no pass pays for an earlier one's
    * garbage.
    */
  private def timedPasses(seconds: Double, minPasses: Int)(body: => Unit): Seq[Double] = {
    val walls = ArrayBuffer.empty[Double]
    while (walls.size < minPasses || walls.sum < seconds) {
      System.gc()
      val t0 = System.nanoTime()
      body
      walls += (System.nanoTime() - t0) / 1e9
    }
    notes("pass_walls_s") = walls.map(w => f"$w%.3f").mkString(" ")
    walls.toSeq.sorted
  }

  private def medianOf(n: Int)(body: => Unit): Double =
    quantile((1 to n).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values (0 for none). */
  private def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def sparkMetrics(c: SparkCounters, wallS: Double, cores: Int): Unit = c.synchronized {
    put("spark.jobs", c.jobs.toDouble)
    put("spark.tasks", c.tasks.toDouble)
    put("spark.shuffle_write_mb", c.shuffleWriteBytes / 1e6)
    put("spark.spill_mb", c.spillBytes / 1e6)
    put("spark.gc_ms", c.gcMs.toDouble)
    put("spark.executor_cpu_s", c.cpuNs / 1e9)
    put("spark.task_skew", c.taskSkew)
    put("spark.busy_frac", c.runMs / 1000.0 / (wallS * cores))
  }

  private def boxMetrics(t0: (Long, Long), t1: (Long, Long)): Unit = {
    put("box.load1", Box.load1())
    val total = t1._2 - t0._2
    put("box.steal_frac", if (total <= 0) 0.0 else (t1._1 - t0._1).toDouble / total)
  }

  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  private def jmap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${jstr(k)}:${if (v == null) "null" else jstr(v)}" }.mkString("{", ",", "}")

  private def writeResult(file: File): Unit = {
    val ms = metrics.map { case (k, v) => s"${jstr(k)}:${if (v.isNaN || v.isInfinite) "0" else v.toString}" }
    val ns = notes.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
    val out = new PrintWriter(file, "UTF-8")
    try out.println(s"""{"metrics":{${ms.mkString(",")}},"notes":{${ns.mkString(",")}}}""")
    finally out.close()
  }
}
