package graft.sinks

import java.io.{BufferedWriter, File}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** File-backed double of the Kafka delivery contract (K1).
  *
  * No Kafka broker or client exists in this environment, so the
  * delivery side is proven against the contract the reference's
  * connector relies on (`KafkaStructDataBinder.java`, SourceRecord
  * semantics):
  *
  *  - a record is (topic, partition, key, value); null key and null
  *    value (tombstone) are legal and encoded as a NUL-char sentinel;
  *  - all records of one (topic, partition) are appended by exactly one
  *    task per batch, in sink order — Kafka's per-partition total order;
  *  - topic names come from the K1 mappers, partitions from key hash or
  *    the RAC THREAD#−1 rule.
  *
  * Each (topic, partition) run of a batch lands as ONE atomic
  * per-batch segment `topic-partition.jsonl.b<id>` (temp write + atomic
  * rename): Spark task RETRIES and checkpoint REPLAYS overwrite the
  * same segment with identical content instead of re-appending —
  * duplication-free where a plain append was only at-least-once. A
  * partition's log is its segments concatenated in batch order (the id
  * is zero-padded so name order IS batch order). Swapping this for
  * `writeStream.format("kafka")` is a config change: the routing
  * columns are the same ones the Kafka connector reads.
  *
  * Scale shape: the batch is hash-repartitioned on (topic, partition) —
  * the same shuffle a real Kafka producer fan-out needs — and each task
  * streams its rows once; no driver-side collection.
  */
object KafkaContractSink {

  /** Encodes a null key (keyless record) or null value (tombstone) on
    * the wire line — a raw NUL never occurs in JSON payloads. */
  val NullToken = "\u0000"

  /** Catalyst form of `NameMappers.defaultTopic`: per-component
    * sanitation of the dotted table name, joined with the delimiter.
    * Runs codegen'd on every record — the mapper is on the hot path of
    * the whole change stream, so it must not be a driver-side lookup.
    * Empty components (a stray dot) are dropped, matching the Scala
    * mapper's component split.
    */
  def defaultTopicColumn(table: Column, prefix: String = "",
      delimiter: String = "_"): Column = {
    val sanitized = array_join(
      transform(filter(split(table, "\\."), c => c =!= ""), c =>
        concat(
          when(c.rlike("^[A-Za-z_]"), lit("")).otherwise(lit("_")),
          regexp_replace(c, "[^A-Za-z0-9_]", "_"))),
      delimiter)
    if (prefix.isEmpty) sanitized
    else concat(lit(NameMappers.sanitize(prefix) + delimiter), sanitized)
  }

  /** Kafka's default partitioner shape: hash(key) mod numPartitions. */
  def keyHashPartition(key: Column, numPartitions: Int): Column =
    pmod(hash(key), lit(numPartitions)).cast("int")

  /** RAC rule: partition = redo THREAD# − 1 (`NameMappers.racPartition`).
    * Validated like the Scala twin: thread 0 (a malformed or
    * null-coalesced record) must fail HERE at mapping time, not
    * surface as an impossible partition −1 deep in the producer.
    */
  def racPartitionColumn(thread: Column): Column =
    when(assert_true(thread >= 1,
        lit("redo threads are 1-based")).isNull,
      thread - 1).cast("int")

  /** Append one micro-batch. `batch` must carry string `topic`, int
    * `partition`, string `key`, string `value`; `orderCols` defines the
    * in-partition order (commit SCN first, like the reference's
    * delivery order).
    *
    * `batchId` is the foreachBatch id (≥ 0): it names the atomic
    * per-batch segments (see the class doc). The done-marker carries a
    * CONTENT FINGERPRINT: a marker whose fingerprint matches this
    * batch is a true replay and skips; a mismatch means the marker
    * came from a DIFFERENT stream incarnation (checkpoint reset over a
    * kept output dir, or two queries sharing it) — the batch is
    * delivered anyway and the marker rewritten, where a bare
    * batchId-keyed skip silently LOST every early batch of the new
    * run.
    */
  def writeBatch(batch: DataFrame, dir: String, orderCols: Seq[String],
      batchId: Long): Unit = {
    require(batchId >= 0, s"batchId must be a foreachBatch id (>= 0), got $batchId")
    val required = Seq("topic", "partition", "key", "value")
    val missing = required.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"kafka contract batch lacks columns: $missing")
    new File(dir).mkdirs()
    val marker = new File(dir, s".batch-$batchId.done")
    // cache across the fingerprint job and the delivery job — without
    // it every batch recomputes its upstream twice
    val cached = batch.persist()
    try {
    // deterministic content fingerprint (row-order-independent): the
    // same logical batch replayed computes the same value
    val fingerprint = {
      val r = cached.select(
        count(lit(1)).cast("long"),
        coalesce(sum(hash(col("topic"), col("partition"), col("key"),
          col("value")).cast("long")), lit(0L))).head()
      s"${r.getLong(0)}:${r.getLong(1)}"
    }
    if (marker.exists()) {
      val stored = new String(java.nio.file.Files.readAllBytes(marker.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      // only an EXACT fingerprint match is a true replay. An EMPTY
      // marker (crash between create and write) proves nothing about
      // delivery — redeliver; segments are atomic overwrites, so a
      // redelivery is always safe where a skip can lose the batch
      // forever.
      if (stored == fingerprint) return
      // mismatch/empty: the marker came from a DIFFERENT incarnation
      // (checkpoint reset over a kept dir). Delivering only this
      // batch's pairs would leave the OLD incarnation's segments for
      // (topic, partition) pairs absent from the new batch interleaved
      // in the log forever — clear every segment of this batch id
      // first, then deliver and rewrite the marker.
      val suffix = f".b$batchId%09d"
      Option(new File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(suffix) ||
          f.getName.endsWith(suffix + ".inprogress"))
        .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    }
    val bid = batchId
    val routed2 = cached
      .repartition(col("topic"), col("partition"))
      .sortWithinPartitions(
        (Seq(col("topic"), col("partition")) ++ orderCols.map(col)): _*)
      .select(col("topic"), col("partition"), col("key"), col("value"))
    routed2.foreachPartition { rows: Iterator[Row] =>
      // after the sort, each (topic, partition) run is consecutive:
      // one open segment at a time, streamed once
      def enc(s: String): String = if (s == null) NullToken else s
      var current: (String, Int) = null
      var out: BufferedWriter = null
      var tmp: java.nio.file.Path = null
      var fin: java.nio.file.Path = null
      def closeSegment(): Unit = if (out != null) {
        out.close(); out = null
        // atomic appearance: a retry/replay re-produces the identical
        // segment and the rename replaces it — never a partial append
        java.nio.file.Files.move(tmp, fin,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        tmp = null
      }
      try {
        rows.foreach { r =>
          val tp = (r.getString(0), r.getInt(1))
          if (tp != current) {
            closeSegment()
            current = tp
            // explicit UTF-8: a real Kafka producer delivers UTF-8
            // bytes; the platform-default charset would corrupt
            // non-ASCII payloads on non-UTF-8 JVMs
            fin = new File(dir, f"${tp._1}-${tp._2}.jsonl.b$bid%09d").toPath
            tmp = new File(dir, f".${tp._1}-${tp._2}.b$bid%09d.inprogress").toPath
            out = java.nio.file.Files.newBufferedWriter(tmp,
              java.nio.charset.StandardCharsets.UTF_8)
          }
          out.write(enc(r.getString(2)))
          out.write('\t')
          out.write(enc(r.getString(3)))
          out.write('\n')
        }
        closeSegment()
      } finally if (out != null) {
        // failure path: close the stream and remove the partial temp —
        // a retry rewrites it from scratch
        try out.close() catch { case _: Throwable => () }
        if (tmp != null) java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    java.nio.file.Files.write(marker.toPath,
      fingerprint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally cached.unpersist(blocking = false)
  }
}
