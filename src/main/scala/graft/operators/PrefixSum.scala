package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables._
import graft.functions.TextFunctions._

/** Distributed prefix sum (exclusive scan) + the sequence-packing gate.
  *
  * A running total over a global ordering is the textbook NON-scalable
  * Spark query: `sum(...) over (order by k)` with no partitionBy plans a
  * single-partition window — one task owns 100 TB. This operator is the
  * classic two-pass scan instead:
  *
  *   1. range-partition by the order key (parallel sort, the same
  *      machinery orderBy uses);
  *   2. per-partition totals — a #partitions-row aggregate collected to
  *      the driver (metadata-sized: one long per partition, NOT data);
  *   3. exclusive per-partition offsets broadcast back, each partition
  *      scans its own rows once adding its offset.
  *
  * The per-row pass is `mapPartitions` — the genuine per-partition
  * imperative case (a running accumulator), kept to one narrow stage on
  * already-sorted partitions. The result is partitioning-INVARIANT: the
  * prefix sum depends only on the global order, so any range split
  * produces identical output (`PrefixSumSpec` proves invariance under
  * adversarial repartitioning).
  *
  * Consumer here: GPT-style sequence packing (`text_pack`) — concatenate
  * tokenized documents in id order, cut into fixed-length training
  * blocks; each document's block span falls out of its exclusive prefix.
  */
object PrefixSum extends GateFamily {

  /** Adds `out` = exclusive running total of `valueCol` over the global
    * `(orderCol, tieCols…)` ascending order. The combined order key must
    * be distinct (ties would make "exclusive prefix" ambiguous) — pass
    * `tieCols` (e.g. a unique id) when `orderCol` alone can collide;
    * values are summed as longs. Output rows keep the input columns,
    * ordered by the combined key within their partitions.
    *
    * The range-sorted frame feeds BOTH passes (totals + scan), so it is
    * persisted — the totals collect forces it, the per-row pass reads
    * the cache, and without it the parallel sort would run twice (the
    * dominant cost at corpus scale). The result is eagerly
    * checkpointed before the sort cache is released: the broadcast
    * offsets are valid only against the cached partitioning that
    * produced them.
    */
  def withRunningTotal(df: DataFrame, orderCol: String, valueCol: String,
      out: String, tieCols: Seq[String] = Nil): DataFrame =
    scanWithTotal(df, orderCol, valueCol, out, tieCols)._1

  /** [[withRunningTotal]] + the grand total, which pass 1 already
    * computes driver-side (the last exclusive offset + its partition's
    * mass) — consumers needing `sum(valueCol)` (e.g. the shard packer's
    * target) take it from here instead of paying another action. */
  def scanWithTotal(df: DataFrame, orderCol: String, valueCol: String,
      out: String, tieCols: Seq[String] = Nil): (DataFrame, Long) = {
    val spark = df.sparkSession
    val orderKey = (orderCol +: tieCols).map(col)
    // enforce the "values are summed as longs" contract at the source:
    // a non-long valueCol would survive pass 1 (sum widens) and then
    // crash pass 2's r.getLong mid-job with a bare ClassCastException
    val vField = df.schema(valueCol)
    require(vField.dataType == org.apache.spark.sql.types.LongType,
      s"prefix-sum value column '$valueCol' must be LongType, got " +
        s"${vField.dataType.simpleString} — cast it before the scan")
    val parted = df
      .repartitionByRange(orderKey: _*)
      .sortWithinPartitions(orderKey: _*)
      .persist()
    val schema = StructType(parted.schema.fields :+
      StructField(out, LongType, nullable = false))
    val enc = RowEncoder.encoderFor(schema)
    val vIdx = parted.schema.fieldIndex(valueCol)
    // pass 1: per-partition totals — #partitions rows, driver-side by
    // design (the scan algorithm's O(P) metadata step, not a data pull)
    val totals = parted
      .select(spark_partition_id().as("pid"), col(valueCol))
      .groupBy(col("pid")).agg(sum(col(valueCol)).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nPart = parted.rdd.getNumPartitions
    val offsets = new Array[Long](nPart)
    var acc = 0L
    (0 until nPart).foreach { p =>
      offsets(p) = acc; acc += totals.getOrElse(p, 0L)
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    // pass 2: one narrow scan per partition, running accumulator seeded
    // with the partition's exclusive offset
    val scanned = parted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      // belt: the offsets are indexed by the partitions pass 1
      // totalled; a scan over more partitions fails here, naming the
      // cause, rather than with a bare index error
      require(pid < bOffsets.value.length,
        s"prefix-sum executed against a re-planned partitioning " +
          s"($pid >= ${bOffsets.value.length}) — see withRunningTotal docs")
      var run = bOffsets.value(pid)
      it.map { r =>
        // loud on null: sum() skipped it in pass 1, so the accumulator
        // would silently desynchronize from the totals (or NPE) here
        if (r.isNullAt(vIdx)) throw new IllegalArgumentException(
          s"prefix-sum value column is null at row $r — values must be " +
            "non-null longs")
        val v = r.getLong(vIdx)
        val row = Row.fromSeq(r.toSeq :+ run)
        run += v
        row
      }
    }(enc)
    val outDf = scanned.localCheckpoint(true)
    parted.unpersist(blocking = false)
    (outDf, acc)
  }

  def gates: Seq[Gate] = Seq(
    // Sequence packing — the final training-prep step: all tokenized
    // docs concatenated in doc_id order and cut into 1024-token blocks;
    // each doc reports the block range it lands in. The distributed
    // exclusive scan above replaces the single-partition window the SQL
    // formulation implies.
    Gate("text_pack", (s, dir) => {
      val toks = documents(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
      withRunningTotal(toks, "doc_id", "n_tok", "cum_before")
        .withColumn("blk0", expr("cum_before div 1024"))
        .withColumn("blk1", expr("(cum_before + n_tok - 1) div 1024"))
        .withColumn("n_blocks", col("blk1") - col("blk0") + 1)
    }, _ =>
      """WITH toks AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'),
        |                              x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |t AS (SELECT doc_id, n_tok FROM toks WHERE n_tok > 0),
        |c AS (
        |  SELECT doc_id, n_tok,
        |         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_before
        |  FROM t)
        |SELECT doc_id, n_tok, CAST(cum_before AS BIGINT) AS cum_before,
        |       CAST(cum_before // 1024 AS BIGINT) AS blk0,
        |       CAST((cum_before + n_tok - 1) // 1024 AS BIGINT) AS blk1,
        |       CAST((cum_before + n_tok - 1) // 1024
        |            - cum_before // 1024 + 1 AS BIGINT) AS n_blocks
        |FROM c ORDER BY doc_id""".stripMargin)
  )
}
