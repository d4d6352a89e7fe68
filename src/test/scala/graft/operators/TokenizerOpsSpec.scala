package graft.operators


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantics of the tokenizer-training / corpus-statistics operators
  * (`text_sdedup`, `text_bpe`, `text_pmi`, [[BpeTrainer]]) on
  * micro-corpora where the expected output is computable by inspection,
  * plus a distributed-vs-sequential equivalence fuzz for the BPE
  * trainer loop. The oracle gates prove engine equivalence at SF scale;
  * these prove the operators do what the literature says.
  */
class TokenizerOpsSpec extends AnyFunSuite with SharedSpark {

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = SharedSpark.tempDir("tok-spec").toFile
    dir.deleteOnExit()
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${dir.getAbsolutePath}/documents.parquet")
    dir.getAbsolutePath
  }

  private def sdedup(dir: String): Map[Long, (Long, Long, String)] =
    TokenizerQueries.queries("text_sdedup")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("text_sdedup excises a duplicated 8-token span, keeps the first occurrence") {
    val dir = corpus(Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "z1 z2 a b c d e f g h z3")))
    val out = sdedup(dir)
    // doc 0 owns every gram it contains — untouched
    assert(out(0L) === ((10L, 0L, "a b c d e f g h i j")))
    // doc 1's copy of the span (pos 2..9) is excised
    assert(out(1L) === ((11L, 8L, "z1 z2 z3")))
  }

  test("text_sdedup merges OVERLAPPING duplicated grams into one span") {
    val dir = corpus(Seq(
      (0L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i zz")))
    val out = sdedup(dir)
    // grams at pos 0 and pos 1 are both duplicated; coverage is the
    // UNION 0..8 (9 tokens), not 2×8
    assert(out(2L) === ((10L, 9L, "zz")))
  }

  test("text_sdedup dedups a repeat WITHIN one document") {
    val dir = corpus(Seq(
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 m1 m2 m3 m4 m5 m6 m7 m8")))
    val out = sdedup(dir)
    assert(out(3L) === ((16L, 8L, "m1 m2 m3 m4 m5 m6 m7 m8")))
  }

  test("text_sdedup leaves docs shorter than the gram length intact") {
    val dir = corpus(Seq((4L, "a b c"), (5L, "a b c")))
    val out = sdedup(dir)
    assert(out(4L) === ((3L, 0L, "a b c")))
    assert(out(5L) === ((3L, 0L, "a b c")))
  }

  test("text_bpe single step: overlapping pair statistic + greedy merge") {
    val dir = corpus(Seq((0L, "abab"), (1L, "ab")))
    // pairs: doc0 "abab" → ab, ba, ab; doc1 → ab. best = ("ab", 3)
    val rows = TokenizerQueries.queries("text_bpe")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))))
      .toMap
    assert(rows(0L) === ((4L, 2L, "ab", 3L)))
    assert(rows(1L) === ((2L, 1L, "ab", 3L)))
  }

  test("BpeTrainer.applyMerge is greedy left-to-right and non-overlapping") {
    assert(BpeTrainer.applyMerge(Seq("a", "a", "a"), "a", "a") ===
      Seq("aa", "a"))
    assert(BpeTrainer.applyMerge(Seq("a", "b", "a", "b"), "a", "b") ===
      Seq("ab", "ab"))
    assert(BpeTrainer.applyMerge(Seq("x"), "a", "b") === Seq("x"))
    assert(BpeTrainer.applyMerge(Nil, "a", "b") === Nil)
  }

  test("BpeTrainer distributed learn equals the sequential reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val words = Seq.fill(300)(
      (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val dist = BpeTrainer.learn(spark, words.toDF("t"), 8)
    val seqr = BpeTrainer.learnSequential(words, 8)
    assert(dist === seqr)
    assert(dist.nonEmpty)
    // merge-apply preserves the underlying text: replaying the merge
    // table over any word's chars and concatenating reproduces the word
    words.distinct.foreach { w =>
      val syms = dist.foldLeft(w.map(_.toString): Seq[String]) {
        case (s, ((a, b), _)) => BpeTrainer.applyMerge(s, a, b)
      }
      assert(syms.mkString === w)
    }
  }

  test("BpeTrainer learn == sequential on a NON-BMP corpus (surrogate pairs)") {
    import spark.implicits._
    // symbols outside the BMP (surrogate pairs in UTF-16) mixed with
    // BMP chars that sort ABOVE them in UTF-16 order but BELOW in
    // UTF-8/code-point order (U+E000 vs U+1F600): the r7 advice
    // divergence — per-char splitting makes lone surrogates, and a
    // Java-compareTo tie-break would pick a different argmax
    val e = "😀" // U+1F600
    val p = ""       // BMP private-use, UTF-16-sorts above surrogates
    val words = Seq(e + p, p + e, e + p, p + e, e + e + p, p + p + e,
      "a" + e, e + "a", "a" + e, e + "a")
    val dist = BpeTrainer.learn(spark, words.toDF("t"), 6)
    val seqr = BpeTrainer.learnSequential(words, 6)
    assert(dist === seqr)
    assert(dist.nonEmpty)
    // code-point symbols round-trip: no lone surrogates anywhere
    words.distinct.foreach { w =>
      val syms = BpeTrainer.encodeWord(w, dist.map(_._1))
      assert(syms.mkString === w)
      syms.foreach(s => assert(!s.exists(c =>
        Character.isSurrogate(c) && s.length == 1)))
    }
  }

  test("pipe_tok chain: merges == sequential BPE; n_sym == encodeWord; packing consistent") {
    import org.apache.spark.sql.functions.{col, size}
    import graft.functions.TextFunctions.tokens
    // corpus rich enough that the first three merges all have count ≥ 2
    val docs = Seq(
      (0L, "aaab aab aaab banana"),
      (1L, "banana bandana aaab aab"),
      (2L, "an an banana aaab"))
    val dir = corpus(docs)
    val tok = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0).persist()
    val chain = TokenizerQueries.learnChainMerges(tok, 3)
    // decode the chain's placeholder chars back to SYMBOL PAIRS — the
    // BpeTrainer merge-table format. (Note the chain's tie-break
    // compares the placeholder strings, not the expanded symbols, so
    // on exact count ties it may pick a different — equally maximal —
    // pair than learnSequential; the oracle states the same rule, and
    // the encodeWord equivalence below is the semantic contract.)
    val sym = scala.collection.mutable.Map[Char, String]()
    val chainPairs = chain.zipWithIndex.map { case (p, k) =>
      assert(p.length === 2, s"chain merge is a 2-symbol pair: '$p'")
      val pair = (sym.getOrElse(p(0), p(0).toString),
        sym.getOrElse(p(1), p(1).toString))
      sym((k + 1).toChar) = pair._1 + pair._2
      pair
    }
    // gate output: the replace-chain encode must equal BpeTrainer's
    // symbol-level greedy applyMerge (encodeWord) with the decoded
    // table, and the packing must be the exact prefix sum
    val out = TokenizerQueries.queries("pipe_tok")(spark, dir)
      .collect().sortBy(_.getLong(0))
    var cum = 0L
    out.foreach { r =>
      val id = r.getLong(0)
      val expected = docs.find(_._1 == id).get._2.split(" ")
        .map(w => BpeTrainer.encodeWord(w, chainPairs).length.toLong).sum
      assert(r.getAs[Long]("n_sym") === expected, s"doc $id n_sym")
      assert(r.getAs[Long]("cum_before") === cum, s"doc $id cum_before")
      cum += expected
    }
    tok.unpersist(blocking = true)
  }

  test("text_pmi scores adjacent-pair association in integer micro-units") {
    val dir = corpus(Seq((0L, "x y x y x y x y x y")))
    // uni: x=5, y=5, N=10; bigrams: (x,y)=5, (y,x)=4 — only (x,y)
    // survives min-support 5. pmi_u = 5·10·10^6 div 25 = 2_000_000.
    val rows = TokenizerQueries.queries("text_pmi")(spark, dir).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)) ===
      (("x", "y", 5L, 2000000L)))
  }
  test("text_mask collapses masked runs to one sentinel, deterministically") {
    val dir = corpus(Seq((0L, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9")))
    val Array(r) = TokenizerQueries.queries("text_mask")(spark, dir).collect()
    val (nTok, nMasked) = (r.getLong(1), r.getLong(2))
    val (input, target) = (r.getString(3), r.getString(4))
    assert(nTok === 10L)
    // recompute the hash rule independently
    val m = (0 until 10).map(i => ((0L * 1000 + i) * 2654435761L) % 1000000007L % 100 < 15)
    assert(nMasked === m.count(identity).toLong)
    // input keeps unmasked tokens; each masked RUN is one sentinel
    val toks = (0 until 10).map(i => s"w$i")
    val expIn = new scala.collection.mutable.ArrayBuffer[String]
    val expTg = new scala.collection.mutable.ArrayBuffer[String]
    (0 until 10).foreach { i =>
      if (!m(i)) expIn += toks(i)
      else {
        if (i == 0 || !m(i - 1)) { expIn += "<X>"; expTg += "<X>" }
        expTg += toks(i)
      }
    }
    assert(input === expIn.mkString(" "))
    assert(target === expTg.mkString(" "))
    // the rule is a pure function of (doc_id, pos): rerun is identical
    val Array(r2) = TokenizerQueries.queries("text_mask")(spark, dir).collect()
    assert(r2.getString(3) === input && r2.getString(4) === target)
  }
  test("BpeTrainer.encode applies the learned table in one map pass") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val words = Seq.fill(200)(
      (1 to (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString)
    val merges = BpeTrainer.learn(spark, words.toDF("t"), 6).map(_._1)
    val enc = BpeTrainer.encode(spark, words.toDF("t"), merges).collect()
    assert(enc.length === words.length)
    // distributed encode == the pure per-word fold, and the merge table
    // actually compresses (fewer symbols than chars somewhere)
    enc.zip(words).foreach { case (syms, w) =>
      assert(syms === BpeTrainer.encodeWord(w, merges))
      assert(syms.mkString === w)
    }
    assert(enc.map(_.length).sum < words.map(_.length).sum)
  }
  test("text_chunk windows overlap and stop once the doc is covered") {
    // 100 tokens: starts 0 and 48 keep (48+16 < 100), 96 drops
    // (96+16 >= 100 — the stride-48 window at 48 already reaches 111)
    val toks100 = (0 until 100).map(i => s"t$i")
    val dir = corpus(Seq(
      (0L, toks100.mkString(" ")),
      (1L, "a b c")))
    // sort locally: the gate stopped presentation-sorting its output
    // in r16 (the driver compare is order-insensitive)
    val rows = TokenizerQueries.queries("text_chunk")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    assert(rows.toSeq === Seq(
      (0L, 0L, 64L, toks100.slice(0, 64).mkString(" ")),
      (0L, 48L, 52L, toks100.slice(48, 100).mkString(" ")),
      (1L, 0L, 3L, "a b c")))
  }
  test("text_sdedup equals a sequential reference on a seeded random corpus") {
    // independent third formulation (the oracle is the second): plant
    // heavy 8-gram duplication via a tiny vocabulary, then replay the
    // spec in plain Scala — mark every non-canonical duplicated-gram
    // occurrence, excise covered positions
    val rnd = new scala.util.Random(41L)
    val docs = (0L until 60L).map { id =>
      val n = 8 + rnd.nextInt(30)
      id -> (0 until n).map(_ => "w" + rnd.nextInt(3)).mkString(" ")
    }
    val expected = {
      val toks = docs.map { case (id, t) => id -> t.split(" ").toIndexedSeq }
      val owner = scala.collection.mutable.Map[Seq[String], Long]()
      for ((id, tk) <- toks; i <- 0 to tk.length - 8) {
        val g = tk.slice(i, i + 8)
        val packed = id * 1000 + i
        if (owner.getOrElse(g, Long.MaxValue) > packed) owner(g) = packed
      }
      toks.map { case (id, tk) =>
        val cov = (for {
          i <- 0 to tk.length - 8
          if owner(tk.slice(i, i + 8)) != id * 1000 + i
          p <- i until i + 8
        } yield p).toSet
        val kept = tk.indices.filterNot(cov).map(tk)
        id -> ((tk.length.toLong, cov.size.toLong, kept.mkString(" ")))
      }.toMap
    }
    val dir = corpus(docs)
    assert(sdedup(dir) === expected)
    // sanity: the planted vocabulary actually produced duplication
    assert(expected.values.exists(_._2 > 0))
  }
}
