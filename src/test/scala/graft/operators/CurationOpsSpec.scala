package graft.operators


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantics of the corpus-curation gates added for the C4/CCNet/DSIR
  * pipeline stages (`text_ldedup`, `text_classify`, `text_dsir`) on
  * hand-built micro corpora where the expected output is computable by
  * inspection — the oracle gates prove engine equivalence at SF scale,
  * these prove the operator does what the curation literature says.
  */
class CurationOpsSpec extends AnyFunSuite with SharedSpark {

  /** Writes a documents.parquet micro-corpus and returns its dir. */
  private def corpus(rows: Seq[(Long, String, String)]): String = {
    val dir = SharedSpark.tempDir("curation-spec").toFile
    dir.deleteOnExit()
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${dir.getAbsolutePath}/documents.parquet")
    dir.getAbsolutePath
  }

  // 8 tokens = one line; docs 0 and 1 share their first line verbatim,
  // doc 2 repeats doc 0's second line AND its own line twice
  private val lineA = "a b c d e f g h"
  private val lineB = "p q r s t u v w"
  private val lineC = "x y z x y z x y"

  test("text_ldedup keeps first global occurrence and restitches docs") {
    val dir = corpus(Seq(
      (0L, s"$lineA $lineB", "en"),
      (1L, s"$lineA $lineC", "en"),
      (2L, s"$lineB $lineC $lineC", "en")))
    val out = TextQueries.queries("text_ldedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toMap2
    // doc 0 owns lineA + lineB; doc 1 loses lineA, keeps lineC;
    // doc 2 loses everything (lineB → doc 0, lineC → doc 1) and vanishes
    assert(out === Map(
      0L -> ((2L, s"$lineA $lineB")),
      1L -> ((1L, lineC))))
  }

  test("text_ldedup dedups repeats WITHIN one document too") {
    val dir = corpus(Seq((7L, s"$lineB $lineB $lineA", "en")))
    val Array(row) = TextQueries.queries("text_ldedup")(spark, dir).collect()
    assert(row.getLong(1) === 2L)
    assert(row.getString(2) === s"$lineB $lineA")
  }

  test("text_classify score is the exact hashed-weight sum") {
    val dir = corpus(Seq((0L, "a a b", "en")))
    def w(tok: String): Long = {
      val h = tok.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
      ((h % 64) * 2654435761L) % 1997L - 998L
    }
    val Array(row) = TextQueries.queries("text_classify")(spark, dir).collect()
    val expected = w("a") + w("a") + w("b")
    assert(row.getLong(1) === expected)
    assert(row.getBoolean(2) === (expected > 0))
  }

  test("text_dsir weights target-only n-grams at 1.0 and off-target at 0") {
    // en doc and fr doc share NO bigrams: en bigrams get ratio 1e6
    // (all occurrences are in-target), fr bigrams 0 — so the per-doc
    // means are exactly 1e6 and 0 and only the en doc is kept
    val dir = corpus(Seq(
      (0L, "alpha beta gamma", "en"),
      (1L, "un deux trois", "fr")))
    val out = TextQueries.queries("text_dsir")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out === Map(0L -> ((1000000L, true)), 1L -> ((0L, false))))
  }

  test("text_dsir mixed-ownership n-grams score the occupancy fraction") {
    // the bigram "shared pair" occurs once in the en doc and once in
    // the fr doc → ratio 500000; each doc has only that bigram
    val dir = corpus(Seq(
      (0L, "shared pair", "en"),
      (1L, "shared pair", "fr")))
    val out = TextQueries.queries("text_dsir")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(0L -> 500000L, 1L -> 500000L))
  }

  // --- seeded-random reference equivalence -------------------------------
  // One 300-doc corpus from a tiny vocabulary (forcing heavy line/bigram
  // collisions), checked exactly against obvious pure-Scala references —
  // the arrival-order/partitioning-independence evidence a hand-picked
  // fixture can't give.

  private def randomCorpus(seed: Long): Seq[(Long, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("a", "b", "c", "dd", "ee", "ff")
    val langs = Vector("en", "fr", "de")
    (0L until 300L).map { id =>
      val n = rnd.nextInt(41) // 0..40 tokens → some docs empty/short
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (id, text, langs(rnd.nextInt(langs.size)))
    }
  }

  test("text_ldedup matches a pure-Scala reference on a random corpus") {
    val docs = randomCorpus(0xC4L)
    val dir = corpus(docs)
    // reference: chunk to 8-token lines, first (doc_id, line_no) wins
    val lines = for {
      (id, text, _) <- docs
      tk = text.split("\\s+").filter(_.nonEmpty).toSeq
      if tk.nonEmpty
      (chunk, i) <- tk.grouped(8).zipWithIndex.toSeq
    } yield (id, i.toLong, chunk.mkString(" "))
    val owner = lines.groupBy(_._3).map { case (line, occ) =>
      line -> occ.map(o => o._1 * 1000 + o._2).min
    }
    val expected = owner.toSeq
      .map { case (line, k) => (k / 1000, k % 1000, line) }
      .groupBy(_._1)
      .map { case (id, ls) =>
        id -> ((ls.size.toLong, ls.sortBy(_._2).map(_._3).mkString(" ")))
      }
    val got = TextQueries.queries("text_ldedup")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(got === expected)
  }

  test("text_dsir matches a pure-Scala reference on a random corpus") {
    val docs = randomCorpus(0xD51AL)
    val dir = corpus(docs)
    val occ = for {
      (id, text, lang) <- docs
      tk = text.split("\\s+").filter(_.nonEmpty).toSeq
      bigram <- tk.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    } yield (id, lang, bigram)
    val cr = occ.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val ct = occ.filter(_._2 == "en").groupBy(_._3)
      .view.mapValues(_.size.toLong).toMap
    val expected = occ.groupBy(_._1).map { case (id, os) =>
      val rsum = os.map(o =>
        ct.getOrElse(o._3, 0L) * 1000000L / cr(o._3)).sum
      val wt = rsum / os.size
      id -> ((wt, wt > 500000L))
    }
    val got = TextQueries.queries("text_dsir")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === expected)
  }

  test("q_funnel fold matches a pure-Scala reference on random event streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xF0F0L)
    val types = Vector("view", "click", "purchase", "error", "signup")
    // 40 users × random events; distinct (user, t) by construction
    val events = (for {
      u <- 0L until 40L
      i <- 0 until rnd.nextInt(12)
    } yield (u, u * 100000L + i * 97L + rnd.nextInt(90),
      types(rnd.nextInt(types.size)))).distinctBy(e => (e._1, e._2))
    def ref(u: Long): (Option[Long], Option[Long], Option[Long]) = {
      var t1, t2, t3 = Option.empty[Long]
      events.filter(_._1 == u).sortBy(_._2).foreach { case (_, t, ty) =>
        if (t1.isEmpty && ty == "view") t1 = Some(t)
        else if (t2.isEmpty && t1.exists(t > _) && ty == "click") t2 = Some(t)
        else if (t3.isEmpty && t2.exists(t > _) && ty == "purchase") t3 = Some(t)
      }
      (t1, t2, t3)
    }
    // same fold the gate runs, over an in-memory frame (the gate reads
    // the events parquet; here the SEMANTICS are under test)
    val df = events.toDF("user_id", "t", "typ")
      .groupBy(col("user_id"))
      .agg(expr("array_sort(collect_list(struct(t, typ)))").as("evs"))
      .withColumn("f", expr(
        """aggregate(evs,
          | named_struct('t1', CAST(NULL AS BIGINT),
          |              't2', CAST(NULL AS BIGINT),
          |              't3', CAST(NULL AS BIGINT)),
          | (a, e) -> named_struct(
          |  't1', IF(a.t1 IS NULL AND e.typ = 'view', e.t, a.t1),
          |  't2', IF(a.t2 IS NULL AND a.t1 IS NOT NULL
          |           AND e.typ = 'click' AND e.t > a.t1, e.t, a.t2),
          |  't3', IF(a.t3 IS NULL AND a.t2 IS NOT NULL
          |           AND e.typ = 'purchase' AND e.t > a.t2, e.t, a.t3)))"""
          .stripMargin))
      .select(col("user_id"), col("f.t1"), col("f.t2"), col("f.t3"))
    val got = df.collect().map(r => r.getLong(0) ->
      ((Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    got.foreach { case (u, f) => assert(f === ref(u), s"user $u") }
    assert(got.keySet === events.map(_._1).toSet)
  }

  private implicit class Tuples3ToMap(rs: Array[(Long, Long, String)]) {
    def toMap2: Map[Long, (Long, String)] =
      rs.map(t => t._1 -> ((t._2, t._3))).toMap
  }
}
