package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.KernelCall.{bind, param}

/** Tight-loop vector kernels + their Column functions.
  *
  * The HOF formulations (`aggregate(zip_with(a,b,…))`) build a struct per
  * element and call an interpreted lambda per element — for an ANN scan
  * that is |pairs|·dim allocations. Each function here is one static
  * call inside WholeStageCodegen: `quantize`, `dotQ`, `sq8Decode` and
  * `lshBucket` through a [[KernelCall]] binding; the four kernels over a
  * fixed driver-side codebook or inventory (`pqProbe`, `maxCos`,
  * `pqEncode`, `pqLut`) through hand-written expressions that pass the
  * `long[][]` constant as a codegen reference object. Semantics are
  * identical to the HOF versions and the DuckDB oracles (exact integer
  * arithmetic on 1e-6 quantized floats — see VectorFunctions).
  */
object VectorNative {

  def quantize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      // a NULL element reads back as 0.0f from ArrayData — finite, so
      // the non-finite guard below would pass it and quantize a hole in
      // the data to 0 while the oracle's list arithmetic goes NULL on
      // the same row (the exact cross-engine divergence this guard
      // family exists to prevent)
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"null embedding component at index $i")
      val x = v.getFloat(i)
      // refuse non-finite components loudly: floor(NaN).toLong is 0 and
      // Inf saturates to Long.MaxValue — a silently "quantized" corrupt
      // embedding would serve plausible cosines while the oracle's CAST
      // errors on the same row (cross-engine divergence hiding the bug)
      if (java.lang.Float.isNaN(x) || java.lang.Float.isInfinite(x))
        throw new IllegalArgumentException(
          s"non-finite embedding component $x at index $i")
      out(i) = math.floor(x.toDouble * 1000000d).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  def dotQ(a: ArrayData, b: ArrayData): Long = {
    // dimension mismatch fails LOUDLY (the maxCos rationale): a
    // truncated dot product is a plausible-looking score masking a
    // data bug, and the oracle's list_dot_product errors on unequal
    // lengths — silence here would surface as an inscrutable gate
    // hash mismatch instead of this message
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dotQ dimension mismatch: $n vs ${b.numElements()}")
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** Random-hyperplane LSH bucket; plane p component i is the
    * deterministic pseudo-random ((p·131 + i·7919 + 17) mod 1000) − 500,
    * matching VectorFunctions.lshBucket and the DuckDB oracle.
    */
  def lshBucket(q: ArrayData, planes: Int): Long = {
    val n = q.numElements()
    var out = 0L
    var p = 0
    while (p < planes) {
      var dp = 0L
      var i = 0
      while (i < n) {
        dp += q.getLong(i) * (((p * 131 + i * 7919 + 17) % 1000) - 500)
        i += 1
      }
      if (dp > 0) out |= (1L << p)
      p += 1
    }
    out
  }

  /** SQ8 decode on the fixed-point domain: out[i] = mn[i] +
    * ((q[i] − mn[i]) / s[i]) · s[i] — the grid value the 8-bit code
    * represents. Integer arithmetic with q[i] ≥ mn[i] (mn is the corpus
    * minimum) and s[i] ≥ 1, so `/` truncation matches SQL DIV and the
    * oracle's `//` exactly.
    */
  def sq8Decode(q: ArrayData, mns: ArrayData, steps: ArrayData): ArrayData = {
    val n = q.numElements()
    if (mns.numElements() != n || steps.numElements() != n)
      throw new IllegalArgumentException(
        s"sq8Decode dimension mismatch: q=$n mn=${mns.numElements()} " +
          s"step=${steps.numElements()}")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val mn = mns.getLong(i)
      val s = steps.getLong(i)
      out(i) = mn + ((q.getLong(i) - mn) / s) * s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** PQ encode against a FIXED codebook passed as driver metadata
    * (`cents(m)(j)` = centroid j of subspace m, each `dim/M` longs,
    * ordered by original seed id within each subspace — the oracle's
    * `ORDER BY d2, cid` tie-break reduces to first-wins in j order).
    * Returns M+1 longs: the 1-BASED flat LUT slot per subspace
    * (base(m) + j + 1, base = running count over sub-codebooks — the
    * exact layout [[pqLut]] emits) followed by the reconstruction norm
    * Σ‖c_m‖². d2 drops the ‖sub‖² term — constant within a (row, m)
    * argmin, so the chosen code is identical to the full L2.
    */
  def pqEncode(q: ArrayData, cents: Array[Array[Array[Long]]]): ArrayData =
    new GenericArrayData(pqEncodeArr(q.toLongArray, cents))

  /** [[pqEncode]] on a plain long array — the form the single-stage
    * Lloyd pass ([[graft.operators.SimilarityQueries.pqAdc]]) calls
    * per row inside its mapPartitions accumulator. One definition of
    * the argmin so the training assignment and the serving encode can
    * never diverge.
    */
  def pqEncodeArr(q: Array[Long], cents: Array[Array[Array[Long]]]): Array[Long] = {
    val mTot = cents.length
    val sub = q.length / mTot
    // the dotQ discipline: a row shorter/longer than the codebook
    // dimension (or one that M does not divide) would silently encode
    // against truncated sub-vectors — plausible cells, wrong neighbors
    if (mTot == 0 || sub == 0 || sub * mTot != q.length ||
        cents(0).length == 0 || cents(0)(0).length != sub)
      throw new IllegalArgumentException(
        s"pqEncode dimension mismatch: |q|=${q.length}, M=$mTot, " +
          s"codebook sub-dim=${if (mTot > 0 && cents(0).nonEmpty) cents(0)(0).length else -1}")
    val out = new Array[Long](mTot + 1)
    var rn2 = 0L
    var base = 0
    var m = 0
    while (m < mTot) {
      val cm = cents(m)
      var bestJ = 0
      var bestD = Long.MaxValue
      var bestCn2 = 0L
      var j = 0
      while (j < cm.length) {
        val cv = cm(j)
        var dot = 0L
        var cn2 = 0L
        var i = 0
        while (i < sub) {
          val c = cv(i)
          dot += q(m * sub + i) * c
          cn2 += c * c
          i += 1
        }
        val d2 = cn2 - 2L * dot
        if (d2 < bestD) { bestD = d2; bestJ = j; bestCn2 = cn2 }
        j += 1
      }
      out(m) = base + bestJ + 1
      rn2 += bestCn2
      base += cm.length
      m += 1
    }
    out(mTot) = rn2
    out
  }

  /** Per-query PQ lookup table over the same codebook layout:
    * lut[base(m) + j] = dot(q's subspace m, cents(m)(j)) — one flat
    * array whose 1-based slots are exactly what [[pqEncode]] emits, so
    * the ADC scan scores a pair with M O(1) array lookups.
    */
  def pqLut(q: ArrayData, cents: Array[Array[Array[Long]]]): ArrayData = {
    val mTot = cents.length
    val sub = q.numElements() / mTot
    if (mTot == 0 || sub == 0 || sub * mTot != q.numElements() ||
        cents(0).length == 0 || cents(0)(0).length != sub)
      throw new IllegalArgumentException(
        s"pqLut dimension mismatch: |q|=${q.numElements()}, M=$mTot")
    var total = 0
    var m = 0
    while (m < mTot) { total += cents(m).length; m += 1 }
    val out = new Array[Long](total)
    var base = 0
    m = 0
    while (m < mTot) {
      val cm = cents(m)
      var j = 0
      while (j < cm.length) {
        val cv = cm(j)
        var dot = 0L
        var i = 0
        while (i < sub) { dot += q.getLong(m * sub + i) * cv(i); i += 1 }
        out(base + j) = dot
        j += 1
      }
      base += cm.length
      m += 1
    }
    new GenericArrayData(out)
  }

  /** The `nprobe` nearest coarse cells of a query — 1-based cell ids
    * ordered by (d2, cell) ascending with d2 = ‖c‖² − 2·dot(q, c)
    * (‖q‖² is constant under the argmin), EXACTLY the ordering of the
    * struct-sort formulation it replaces:
    * `array_sort(transform(sequence(...), j -> struct(d2, cell)))`.
    * That HOF built and comparison-sorted a kC-element struct array
    * through interpreted ArrayData per evaluation — fine at the
    * conformance kC = 16, but at a scaled kC ≈ √N ≈ 443 the probe
    * selection dominated the serve (r11 measured 15.1 s vs 3.6 s for
    * the whole 200 k × 1 k serve). One bounded O(kC·nprobe) insertion
    * pass, zero allocation beyond the nprobe-sized output.
    */
  def pqProbe(q: ArrayData, cents: Array[Array[Long]], cn2: Array[Long],
      nprobe: Int): ArrayData = {
    val kC = cents.length
    val np = math.min(nprobe, kC)
    val dim = q.numElements()
    if (kC > 0 && cents(0).length != dim)
      throw new IllegalArgumentException(
        s"pqProbe dimension mismatch: |q|=$dim vs centroid ${cents(0).length}")
    val bestD = new Array[Long](np)
    val bestC = new Array[Int](np)
    var filled = 0
    var j = 0
    while (j < kC) {
      val cv = cents(j)
      var dot = 0L
      var i = 0
      while (i < dim) { dot += q.getLong(i) * cv(i); i += 1 }
      val d2 = cn2(j) - 2L * dot
      // insertion position: strictly before any (d, c) with d2 < d, or
      // d2 == d && j < c — j ascends, so the tie case never fires, but
      // the comparison is kept identical to the struct sort's
      var pos = filled
      while (pos > 0 && (d2 < bestD(pos - 1) ||
          (d2 == bestD(pos - 1) && j < bestC(pos - 1)))) pos -= 1
      if (pos < np) {
        val last = math.min(filled, np - 1)
        var k = last
        while (k > pos) { bestD(k) = bestD(k - 1); bestC(k) = bestC(k - 1); k -= 1 }
        bestD(pos) = d2
        bestC(pos) = j
        if (filled < np) filled += 1
      }
      j += 1
    }
    val out = new Array[Long](filled)
    var k = 0
    while (k < filled) { out(k) = bestC(k) + 1L; k += 1 }
    new GenericArrayData(out)
  }

  case class PqProbeExpr(child: Expression, coarse: Seq[Seq[Long]], nprobe: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val centsArr: Array[Array[Long]] =
      coarse.map(_.toArray).toArray
    @transient private lazy val cn2Arr: Array[Long] =
      centsArr.map(_.map(x => x * x).sum)
    override def nullSafeEval(v: Any): Any =
      VectorNative.pqProbe(v.asInstanceOf[ArrayData], centsArr, cn2Arr, nprobe)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("probeCents", centsArr, "long[][]")
      val refN = ctx.addReferenceObj("probeCn2", cn2Arr, "long[]")
      defineCodeGen(ctx, ev,
        a => s"graft.functions.VectorNative.pqProbe($a, $ref, $refN, $nprobe)")
    }
    override protected def withNewChildInternal(nc: Expression): Expression = copy(child = nc)
  }

  /** Max cosine of `q` against a FIXED inventory of vectors (driver
    * metadata — e.g. a benchmark embedding set): per candidate the
    * quotient is computed exactly as the SQL oracle states it
    * (dot / (sqrt(‖q‖²)·sqrt(‖b‖²)), one double division per pair),
    * so the max is bit-identical across engines. One map-only kernel
    * call replaces a crossJoin fan of |inventory| rows per document.
    */
  def maxCos(q: ArrayData, bench: Array[Array[Long]],
      benchNorm: Array[Double]): Double = {
    val qa = q.toLongArray
    var n2 = 0L
    var i = 0
    while (i < qa.length) { n2 += qa(i) * qa(i); i += 1 }
    val sq = math.sqrt(n2.toDouble)
    var best = Double.NegativeInfinity
    var j = 0
    while (j < bench.length) {
      val b = bench(j)
      // a dimension mismatch must fail loudly — a truncated dot product
      // is a plausible-looking cosine masking a data bug
      if (b.length != qa.length)
        throw new IllegalArgumentException(
          s"maxCos dimension mismatch: query dim ${qa.length} vs " +
            s"benchmark vector dim ${b.length}")
      var dot = 0L
      var k = 0
      while (k < qa.length) { dot += qa(k) * b(k); k += 1 }
      val den = sq * benchNorm(j)
      // zero-norm guard: cos defined as 0 for a degenerate pair (the
      // oracle SQL states the same CASE) — the IEEE quotient would be
      // NaN, which `>` silently skips while SQL MAX ranks it greatest
      val c = if (den == 0.0) 0.0 else dot.toDouble / den
      if (c > best) best = c
      j += 1
    }
    best
  }

  case class MaxCosExpr(child: Expression, bench: Seq[Seq[Long]])
      extends UnaryExpression with ExpectsInputTypes {
    require(bench.nonEmpty,
      "maxCos requires a non-empty benchmark inventory: an empty set has " +
        "no maximum (the SQL oracle's GROUP BY emits no rows at all)")
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    @transient private lazy val benchArr: Array[Array[Long]] =
      bench.map(_.toArray).toArray
    // per-benchmark-vector norms precomputed ONCE (driver metadata):
    // recomputing ‖b‖² inside the scan tripled the kernel's multiply-adds
    @transient private lazy val benchNormArr: Array[Double] =
      // integer ‖b‖² then ONE double conversion — bit-identical to the
      // oracle's sqrt(CAST(list_dot_product(q,q) AS DOUBLE))
      benchArr.map(b => math.sqrt(b.map(x => x * x).sum.toDouble))
    override def nullSafeEval(v: Any): Any =
      VectorNative.maxCos(v.asInstanceOf[ArrayData], benchArr, benchNormArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("benchVecs", benchArr, "long[][]")
      val refN = ctx.addReferenceObj("benchNorms", benchNormArr, "double[]")
      defineCodeGen(ctx, ev,
        a => s"graft.functions.VectorNative.maxCos($a, $ref, $refN)")
    }
    override protected def withNewChildInternal(nc: Expression): Expression = copy(child = nc)
  }

  case class PqEncodeExpr(child: Expression, cents: Seq[Seq[Seq[Long]]])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val centsArr: Array[Array[Array[Long]]] =
      cents.map(_.map(_.toArray).toArray).toArray
    override def nullSafeEval(v: Any): Any =
      VectorNative.pqEncode(v.asInstanceOf[ArrayData], centsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqCents", centsArr, "long[][][]")
      defineCodeGen(ctx, ev, a => s"graft.functions.VectorNative.pqEncode($a, $ref)")
    }
    override protected def withNewChildInternal(nc: Expression): Expression = copy(child = nc)
  }

  case class PqLutExpr(child: Expression, cents: Seq[Seq[Seq[Long]]])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val centsArr: Array[Array[Array[Long]]] =
      cents.map(_.map(_.toArray).toArray).toArray
    override def nullSafeEval(v: Any): Any =
      VectorNative.pqLut(v.asInstanceOf[ArrayData], centsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqCents", centsArr, "long[][][]")
      defineCodeGen(ctx, ev, a => s"graft.functions.VectorNative.pqLut($a, $ref)")
    }
    override protected def withNewChildInternal(nc: Expression): Expression = copy(child = nc)
  }

  private def c(e: Expression): Column = GraftSqlBridge.column(e)
  private def e(col: Column): Expression = GraftSqlBridge.expression(col)
  private val Quantized = ArrayType(LongType, containsNull = false)

  def quantize_native(col: Column): Column =
    bind("quantize_native", VectorNative, "quantize", Quantized)(col -> ArrayType(FloatType))
  def max_cos_native(q: Column, bench: Seq[Seq[Long]]): Column =
    c(MaxCosExpr(e(q), bench))
  def pq_encode_native(q: Column, cents: Seq[Seq[Seq[Long]]]): Column =
    c(PqEncodeExpr(e(q), cents))
  def pq_lut_native(q: Column, cents: Seq[Seq[Seq[Long]]]): Column =
    c(PqLutExpr(e(q), cents))
  def pq_probe_native(q: Column, coarse: Seq[Seq[Long]], nprobe: Int): Column =
    c(PqProbeExpr(e(q), coarse, nprobe))
  def dotq_native(a: Column, b: Column): Column =
    bind("dotq_native", VectorNative, "dotQ", LongType)(
      a -> ArrayType(LongType), b -> ArrayType(LongType))
  def lsh_bucket_native(q: Column, planes: Int): Column =
    bind("lsh_bucket_native", VectorNative, "lshBucket", LongType)(
      q -> ArrayType(LongType), param(planes) -> IntegerType)
  def sq8_decode_native(q: Column, mns: Column, steps: Column): Column =
    bind("sq8_decode_native", VectorNative, "sq8Decode", Quantized)(
      q -> ArrayType(LongType), mns -> ArrayType(LongType), steps -> ArrayType(LongType))
}
