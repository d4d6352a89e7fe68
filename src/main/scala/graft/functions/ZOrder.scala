package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Z-order (Morton) interleave — the clustering key behind
  * multi-dimensional data skipping: laying a 100 TB table out in z-value
  * order makes parquet row-group min/max statistics selective on BOTH
  * dimensions at once, so a 2-D predicate prunes file ranges instead of
  * scanning everything. The expression is pure integer arithmetic,
  * reproducible across engines (the DuckDB oracle states the same bit
  * spread explicitly).
  */
object ZOrderKernel {
  /** Interleave the low `bits` bits: x at even positions, y at odd. */
  def interleave2(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >>> i) & 1L) << (2 * i)
      z |= ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

object ZOrderOps {
  /** z-value of two non-negative long dims, `bits` bits each (≤ 31). */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1,31], got $bits")
    KernelCall.bind("zvalue2", ZOrderKernel, "interleave2", LongType)(
      x -> LongType, y -> LongType, KernelCall.param(bits) -> IntegerType)
  }
}
