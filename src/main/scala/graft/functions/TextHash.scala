package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop implementations behind the text-hash Catalyst expressions
  * (static forwarders — called from generated code, one invoke per row).
  *
  * All hashes are the same explicit polynomial fold the DuckDB oracles
  * compute — `fold(cp → a*31 + cp mod P)` over Unicode code points — so
  * results are cross-engine reproducible and partitioning-invariant.
  * Reference provenance: the reference keeps its analytics-free dataflow
  * deterministic the same way (commit-SCN order, no engine-private
  * hashing); see SURVEY.md §2.7 for why the dedup family is ours to design.
  */
object TextHash {

  /** Modulus shared with TextFunctions.P and every oracle query. */
  val P: Long = 1000000007L

  /** Banded Levenshtein distance over the strings' BYTES, -1 when the
    * distance exceeds `maxDist` — the verify kernel of the §2.69
    * fuzzy-match family. Two-row DP restricted to the |i−j| ≤ maxDist
    * diagonal band: O(|a|·maxDist) cells against the full DP's
    * O(|a|·|b|), primitive int rows, zero per-cell allocation —
    * Spark's builtin measured ~35 µs per 64-char pair (the banded
    * builtin ~7 µs); this kernel runs the same pair in well under a
    * microsecond inside WholeStageCodegen. Byte semantics equal
    * code-point edit distance on ASCII (the corpora this family
    * serves; a multi-byte UTF-8 char counts per byte — document when
    * reusing on non-ASCII text).
    */
  def levBanded(a: UTF8String, b: UTF8String, maxDist: Int): Int = {
    if (maxDist < 0) return -1
    val n = a.numBytes(); val m = b.numBytes()
    if (math.abs(n - m) > maxDist) return -1
    if (n == 0) return m // ≤ maxDist by the length guard
    if (m == 0) return n
    // clamp to the largest useful threshold: distance never exceeds
    // max(n, m), and an unclamped maxDist = Int.MaxValue would overflow
    // `inf` to Int.MinValue, corrupting every band comparison (the
    // kernel is public API — callers are not all small literals)
    val k = math.min(maxDist, math.max(n, m))
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      cur(lo - 1) = if (lo == 1) math.min(i, inf) else inf
      var rowMin = cur(lo - 1)
      val ca = a.getByte(i - 1)
      j = lo
      while (j <= hi) {
        val cost = if (ca == b.getByte(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        // prev(j) is in the previous row's band only when j ≤ i-1+k;
        // out-of-band slots were initialized to inf, so reading them
        // is safe as long as every written slot is re-written or inf
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (hi < m) cur(hi + 1) = inf // seal the band's right edge
      if (rowMin >= inf) return -1  // whole band overflowed: early out
      val t = prev; prev = cur; cur = t
      i += 1
    }
    // distance ≤ max(n, m) = the clamp bound, so comparing against the
    // clamped k is equivalent to comparing against the caller's maxDist
    if (prev(m) > k) -1 else prev(m)
  }

  /** Loud per-element null guards: a null ArrayData slot reads back as
    * 0 from getLong (a silent wrong hash) or null from getUTF8String
    * (an inscrutable NPE deep in a task). The engine's own producers
    * declare containsNull=false so this branch never takes and
    * predicts perfectly; encoder-built or parquet-read arrays with a
    * nullable static type get a real error naming the problem instead.
    */
  @inline private def nnL(a: ArrayData, i: Int): Long = {
    if (a.isNullAt(i)) throw new IllegalArgumentException(
      s"null array element at index $i in a text-hash kernel input")
    a.getLong(i)
  }
  @inline private def nnS(a: ArrayData, i: Int): UTF8String = {
    if (a.isNullAt(i)) throw new IllegalArgumentException(
      s"null array element at index $i in a text-hash kernel input")
    a.getUTF8String(i)
  }

  /** Polynomial hash over the code points of `s` (matches DuckDB
    * `list_reduce(list_transform(string_split(s,''), c->ord(c)),
    * (a,b)->(a*31+b)%P)`). UTF-8 is decoded inline — no String allocation.
    */
  def polyHash(s: UTF8String): Long = foldToken(0L, s)

  /** min((h*a + b) mod P) over an array of hashes; MAX_VALUE for empty. */
  def minHash(hs: ArrayData, a: Long, b: Long): Long = {
    val n = hs.numElements()
    var min = Long.MaxValue
    var i = 0
    while (i < n) {
      val v = (nnL(hs, i) * a + b) % P
      if (v < min) min = v
      i += 1
    }
    min
  }

  /** 16-bit SimHash: per-bit +1/−1 votes over token hashes, one pass. */
  def simHash16(hs: ArrayData): Long = {
    val votes = new Array[Int](16)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = nnL(hs, i)
      var j = 0
      while (j < 16) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 16) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** 60-bit SimHash for the hamming-neighbor dedup (Manku et al.
    * WWW'07): bit j's vote derives from the affine-rehash parity
    * ((h·(2j+3) + 17j + 11) mod P) mod 2 — the base poly-hash has
    * only ~30 usable bits, so each bit needs its own rehash (the
    * minHash affine-family convention). 60 bits keep the result
    * positive in both engines (shift/floor-div extraction is
    * sign-safe), and 4 × 15-bit bands give exact recall for
    * hamming ≤ 3 by pigeonhole.
    */
  def simHash60(hs: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = nnL(hs, i)
      var j = 0
      while (j < 60) {
        if ((h * (2 * j + 3) + 17 * j + 11) % P % 2 == 1L) votes(j) += 1
        else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** WINNOWING fingerprint selection (Schleimer et al. SIGMOD'03, the
    * MOSS scheme): the minimum gram hash of every w-length window,
    * deduplicated and sorted — the guarantee is that any shared
    * substring of at least w + k − 1 tokens yields at least one
    * shared fingerprint, while the selected set is ~2/(w+1) of the
    * grams. One native pass (O(n·w) with w a small constant); the HOF
    * formulation (transform + slice + array_min per window) evaluates
    * interpreted lambdas n·w times per row.
    */
  def winnow(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n < w) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    // primitive collect → sort → dedup-in-place (the sortedDistinctLongs
    // pattern): a TreeSet here boxed one Long + one tree node per
    // window per row inside the dedup scan's hot loop
    val mins = new Array[Long](n - w + 1)
    var i = 0
    while (i <= n - w) {
      var mn = Long.MaxValue
      var j = 0
      while (j < w) {
        val v = nnL(hs, i + j)
        if (v < mn) mn = v
        j += 1
      }
      mins(i) = mn
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(mins, sortDedup(mins)))
  }

  /** Σ over a long array — exact (callers keep elements < 2^30 and
    * counts corpus-bounded, so the sum stays far inside int64). */
  def sumLongs(hs: ArrayData): Long = {
    var acc = 0L
    var i = 0
    val n = hs.numElements()
    while (i < n) { acc += nnL(hs, i); i += 1 }
    acc
  }

  /** Order-sensitive fingerprint: Σ position·polyHash(token) mod P,
    * positions 1-based (matches TextFunctions.docFingerprint contract).
    */
  def fingerprint(toks: ArrayData): Long = {
    val n = toks.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = (acc + (i + 1).toLong * polyHash(nnS(toks, i))) % P
      i += 1
    }
    acc
  }

  /** Hashes of word n-gram shingles (space-joined token windows), computed
    * by carrying the polynomial fold across tokens — no shingle string is
    * ever materialized. Equivalent to polyHash(tok_i ⧺ " " ⧺ … ⧺ tok_{i+n-1})
    * for each window. Empty result for docs shorter than n tokens.
    */
  def shingleHashes(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var acc = 0L
      var k = 0
      while (k < n) {
        if (k > 0) acc = (acc * 31 + 32) % P // the joining space, ord=32
        acc = foldToken(acc, nnS(toks, i + k))
        k += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  private def foldToken(acc0: Long, s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = acc0
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i) & 0xff
      var cp = 0
      if (b < 0x80) { cp = b; i += 1 }
      else if ((b & 0xe0) == 0xc0) {
        cp = ((b & 0x1f) << 6) | (bytes(i + 1) & 0x3f); i += 2
      } else if ((b & 0xf0) == 0xe0) {
        cp = ((b & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) |
          (bytes(i + 2) & 0x3f); i += 3
      } else {
        cp = ((b & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
          ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f); i += 4
      }
      acc = (acc * 31 + cp) % P
    }
    acc
  }

  /** Distinct values of a long array, ASCENDING order — the set form
    * [[sortedIntersectCount]] merges. One sort per DOCUMENT (not per
    * pair): a corpus has |docs| sets but the candidate verify touches
    * Σ|candidates| pairs, so sorting at set-build time is the cheap
    * side of the trade.
    */
  def sortedDistinctLongs(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = nnL(hs, i); i += 1 }
    new GenericArrayData(java.util.Arrays.copyOf(a, sortDedup(a)))
  }

  /** Sort `a` ascending and dedup in place; returns the distinct
    * count — the one statement of the primitive sort→dedup pass
    * [[sortedDistinctLongs]] and [[winnow]] both run (two diverging
    * copies were this close to a boundary-tweak drift).
    */
  private def sortDedup(a: Array[Long]): Int = {
    java.util.Arrays.sort(a)
    var k = 0
    var i = 0
    while (i < a.length) {
      if (k == 0 || a(i) != a(k - 1)) { a(k) = a(i); k += 1 }
      i += 1
    }
    k
  }

  /** |A ∩ B| for two ASCENDING-sorted long arrays — one branch-light
    * merge pass, zero allocation. `size(array_intersect(a, b))` builds
    * an OpenHashSet AND the intersection array per evaluation only to
    * take its length; on the LSH verify path the intersect runs up to
    * 3× per candidate pair (join condition + m + jac projections), so
    * the per-eval constant is what the whole stage costs.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    // asymmetric inputs: walk the SMALL side, binary-search the large
    // side from a moving lower bound — na·log(nb) instead of na+nb.
    // The decontamination stage intersects each document's ~10²
    // shingles against a benchmark inventory that can reach 10⁶
    // entries; the linear merge made that stage pay O(|inventory|)
    // PER DOCUMENT (measured 37-47 s of a 100× stage-1-6 pass). The
    // bound-advancing search consumes each large-side element at most
    // once, so duplicate-multiplicity semantics match the merge.
    if (nb >= (na.toLong << 5)) return searchIntersectCount(a, na, b, nb)
    if (na >= (nb.toLong << 5)) return searchIntersectCount(b, nb, a, na)
    var i = 0
    var j = 0
    var m = 0L
    while (i < na && j < nb) {
      val va = nnL(a, i)
      val vb = nnL(b, j)
      if (va == vb) { m += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    m
  }

  private def searchIntersectCount(s: ArrayData, ns: Int,
      l: ArrayData, nl: Int): Long = {
    var i = 0
    var lo = 0
    var m = 0L
    while (i < ns && lo < nl) {
      val v = nnL(s, i)
      var low = lo
      var high = nl
      while (low < high) {
        val mid = (low + high) >>> 1
        if (nnL(l, mid) < v) low = mid + 1 else high = mid
      }
      if (low < nl && nnL(l, low) == v) { m += 1; lo = low + 1 }
      else lo = low
      i += 1
    }
    m
  }

  /** Count of the most frequent value in a long array (0 for empty) —
    * the per-document "top n-gram count" of the Gopher/MassiveText
    * repetition rules: sort a copy (primitive dual-pivot quicksort, no
    * boxing), scan the longest run. Per-row arrays are document-sized,
    * so the whole repetition signal stays map-only at corpus scale.
    */
  def maxDupCount(hs: ArrayData): Long = {
    val n = hs.numElements()
    if (n == 0) return 0L
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = nnL(hs, i); i += 1 }
    java.util.Arrays.sort(a)
    var best = 1L
    var run = 1L
    i = 1
    while (i < n) {
      if (a(i) == a(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1
      i += 1
    }
    best
  }

  /** Distinct values of a long array, first-occurrence order. */
  def distinctLongs(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    val seen = new java.util.HashSet[Long](n * 2)
    val out = new Array[Long](n)
    var k = 0
    var i = 0
    while (i < n) {
      val v = nnL(hs, i)
      if (seen.add(v)) { out(k) = v; k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  /** Residue-class histogram: out[j] = |{x ∈ hs : x mod m = j}| — the
    * hashing-trick bag-of-words featurizer (`mm_pairs`). One pass over
    * the array; the HOF formulation (transform(sequence(0,m-1),
    * j -> size(filter(hs, …)))) evaluates an interpreted lambda
    * m·|hs| times per row (measured 4.5 s vs 1.9 s at the 10×
    * corpus). Hash values are non-negative (mod 1e9+7 domain), so
    * `%` equals the oracle's mathematical mod.
    */
  def modCounts(hs: ArrayData, m: Int): ArrayData = {
    val out = new Array[Long](m)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      out((nnL(hs, i) % m).toInt) += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Adjacent-pair emitter over array<string> tokens: one struct row per
    * position i — (tᵢ, tᵢ₊₁), with the LAST position emitting (tₙ, NULL)
    * — the fused bigram+unigram tally input (`text_pmi`). The HOF
    * formulation (transform(sequence(1, size(tk)), i -> struct(...)))
    * evaluates an interpreted lambda per element and re-resolves
    * element_at twice per position; this is one pass, one allocation
    * per pair row.
    */
  def adjacentPairs(tk: ArrayData): ArrayData = {
    val n = tk.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      // clone() both strings: an UnsafeArrayData input under a
      // buffering operator (sort/window) reuses its backing buffer
      // across input-row advances, so stored references would go stale
      // — one small copy per token removes the hazard
      val w2 = if (i + 1 < n) nnS(tk, i + 1).clone() else null
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        nnS(tk, i).clone(), w2)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Whitespace-token count: the number of maximal non-whitespace runs,
    * ≡ `size(filter(split(s, "\\s+"), _ != ""))` — without allocating
    * the token array or running a regex. Whitespace is Java regex `\s`
    * = {TAB LF VT FF CR SPACE}, all ASCII, so a raw byte scan is
    * UTF-8-safe (continuation bytes are ≥ 0x80 and never match).
    * DuckDB-oracle caveat: RE2's `\s` OMITS vertical tab, so an oracle
    * restating this count must either use the explicit class
    * `[ \t\n\v\f\r]+` (exact — pipe_shard does) or rely on VT-free
    * text (the `'\s+'` convention of the older tokenCount oracles).
    * The count-only consumers (packing, sharding, mixing, quality
    * stats) are tokenize-bound at corpus scale — this is their hot
    * loop.
    */
  def wsTokenCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      val ws = b == 0x20 || (b >= 0x09 && b <= 0x0d)
      if (ws) inTok = false
      else if (!inTok) { count += 1; inTok = true }
      i += 1
    }
    count
  }

  /** Tokens of `toks` equal to one of `markers`. Each token counts at
    * most once, however often the list repeats it; a NULL token counts
    * none. ≡ `size(filter(toks, t => t === m1 || t === m2 || …))`.
    */
  def markerCount(toks: ArrayData, markers: ArrayData): Int = {
    val n = toks.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) && listed(markers, toks.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** Marker-vote language ID in one pass over the tokens: the language
    * `langs(k)` whose list `markers(k)` holds the most tokens of `toks`
    * (each counted as [[markerCount]] counts them), the first-listed
    * language on a tie. A word listed under two languages votes for
    * both.
    */
  def langId(toks: ArrayData, langs: ArrayData, markers: ArrayData): UTF8String = {
    val nLang = langs.numElements()
    val lists = Array.tabulate(nLang)(markers.getArray)
    val votes = new Array[Int](nLang)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var k = 0
        while (k < nLang) {
          if (listed(lists(k), t)) votes(k) += 1
          k += 1
        }
      }
      i += 1
    }
    var best = 0
    var k = 1
    while (k < nLang) { if (votes(k) > votes(best)) best = k; k += 1 }
    langs.getUTF8String(best)
  }

  /** Whether `t` (not null) equals an element of `ms`. */
  private def listed(ms: ArrayData, t: UTF8String): Boolean = {
    val n = ms.numElements()
    var j = 0
    while (j < n) {
      if (t.equals(ms.getUTF8String(j))) return true
      j += 1
    }
    false
  }
}
