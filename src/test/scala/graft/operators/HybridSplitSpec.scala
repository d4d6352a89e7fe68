package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Invariants of the round-9 composition gates beyond the DuckDB gate:
  *
  *  - `retr_rrf`: the fused ranking must EQUAL an independently-computed
  *    fusion of the two arms — the ARM-SWAP property (r10): the fusion
  *    is rank-only, so serving the dense arm from the persisted IVF-PQ
  *    index instead of a brute scan changes the fused output ONLY
  *    through the rank lists the arm hands over. Plus a recall floor:
  *    the index-served arm must recover most of the brute-force
  *    top-10 (nprobe = 4 of 16 cells — approximate by design).
  *
  *  - `pipe_split`: the leakage guarantee itself — no near-dup cluster
  *    may straddle the train/test boundary, ever; exact-duplicate
  *    documents (same cluster by construction) must land on the same
  *    side.
  *
  *  - `adjacent_pairs` kernel ≡ the transform(sequence(...)) HOF it
  *    replaced (text_pmi's fused tally input).
  */
class HybridSplitSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("retr_rrf equals an independently fused ranking of the two arms") {
    val s = spark
    // sparse arm ranks from the public bm25 output
    val sp = RetrievalQueries.bm25(s, dir)
      .select(col("qid"), col("doc_id"), col("rn")).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getInt(2))).toMap
    // dense arm = the SAME index-served rank list the gate consumes
    // (train→save→load→probe); the fusion below is plain Scala, so the
    // assertion pins the arm-swap property: fusion(arms) == gate output
    // no matter which machinery produced the rank lists
    val dn = RetrievalQueries.denseTop10(s, dir).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    // fuse in plain Scala
    val expected = (sp.keySet ++ dn.keySet).toSeq
      .map { case k @ (qid, doc) =>
        val c = sp.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          dn.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L)
        (qid, doc, c)
      }
      .groupBy(_._1)
      .flatMap { case (qid, rows) =>
        rows.sortBy { case (_, doc, c) => (-c, doc) }.take(5).zipWithIndex
          .map { case ((_, doc, c), i) => (qid, doc, c, i + 1) }
      }.toSet
    val got = RetrievalQueries.queries("retr_rrf")(s, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == expected)
    assert(got.groupBy(_._1).size == 5) // all five queries answered
  }

  test("index-served dense arm recovers the brute-force top-10 above the recall floor") {
    import graft.functions.VectorFunctions._
    val s = spark
    // ground truth: exact cosine top-10 via a window over the full
    // cross product — the brute arm the r10 index serve replaced
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("n2", normQ2(col("q")))
    val qs = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 500)
      .select(expr("CAST(vec_id div 100 + 1 AS INT)").as("qid"),
        col("q").as("qq"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val truth = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= (col("qid") - 1).cast("long") * 100)
      .withColumn("cos",
        cosineFromQ(dotQ(col("qq"), col("q")), col("qn2"), col("n2")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val servedRows = RetrievalQueries.denseTop10(s, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val served = servedRows.map(r => (r._1, r._2)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(served.keySet == truth.keySet)
    val recalls = truth.map { case (qid, t) =>
      served(qid).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    // nprobe = 4 of 16 cells is approximate by design; the floor
    // asserts the index is RETRIEVING, not that it is exact
    assert(mean >= 0.5, s"mean recall@10 $mean below floor (per-q: $recalls)")
    // independent dense-RANK check (r11 — the recall floor alone lets a
    // rank bug inside the serve pass): the serve ends in an exact
    // cosine re-rank of its candidates, so within each query the
    // served order must equal an exact re-rank of exactly those
    // documents, computed HERE from the raw quantized vectors with the
    // serve's own tie-break (cos desc, vec_id asc) — independent of
    // every rank the serve emitted
    val vecs = e.select(col("vec_id"), col("q"), col("n2")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toArray, r.getLong(2)))
      .toMap
    servedRows.groupBy(_._1).foreach { case (qid, rows) =>
      val (qq, qn2) = vecs((qid - 1).toLong * 100)
      val gotOrder = rows.sortBy(_._3).map(_._2).toSeq
      val expOrder = rows.map { case (_, doc, _) =>
        val (dq, dn2) = vecs(doc)
        val dot = qq.indices.map(i => qq(i) * dq(i)).sum
        (doc, dot.toDouble / (math.sqrt(qn2.toDouble) * math.sqrt(dn2.toDouble)))
      }.sortBy { case (doc, cos) => (-cos, doc) }.map(_._1).toSeq
      assert(gotOrder == expOrder,
        s"qid $qid served rank order $gotOrder != exact re-rank $expOrder")
    }
  }

  test("pipe_split never splits a near-dup cluster across train/test") {
    import spark.implicits._
    // synthetic corpus: 12 base docs, verbatim copies of the first 6
    // (exact dups => same cluster by construction), doc_ids chosen so a
    // naive per-doc hash split WOULD separate some copy pairs
    val rnd = new scala.util.Random(43L)
    val base = (0 until 12).map { i =>
      (i.toLong, (0 until 25).map(_ => s"w${rnd.nextInt(300)}").mkString(" "))
    }
    val copies = (0 until 6).map { i => (100L + i, base(i)._2) }
    val tmp = SharedSpark.tempDir("graft_split").toString
    (base ++ copies).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("syn"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DedupQueries.queries("pipe_split")(spark, tmp)
      .select(col("doc_id"), col("cluster"), col("split")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // the guarantee: one split value per cluster
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"cluster $c straddles the split: ${rows.mkString(",")}")
    }
    // exact-dup pairs specifically landed together
    val byId = out.map(r => r._1 -> r._3).toMap
    (0 until 6).foreach { i => assert(byId(i.toLong) == byId(100L + i)) }
    // and the split is the cluster-rep Knuth hash, not per-doc
    out.foreach { case (_, c, split) =>
      val pct = (c % 2147483648L) * 2654435761L % 4294967296L % 100
      assert(split == (if (pct < 90) "train" else "test"))
    }
  }

  test("bm25's pre-aggregation term filter commutes with the tf aggregate") {
    // r17: bm25 applies the broadcast query-term semi-join BEFORE the
    // (doc, dl, t) tf aggregation so the exchange carries only
    // query-term hits. Legitimate because t is a grouping key, so
    // filtering on it before or after the groupBy is the same algebra —
    // pinned here on real fixture tokens with an arbitrary term set
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val stream = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), size(col("tk")).as("dl"),
        explode(col("tk")).as("t"))
    val terms = Seq("spark", "table", "row", "key", "slow").toDF("t")
    val pre = stream.join(broadcast(terms), "t")
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val post = stream
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(terms), "t")
      .select(col("doc_id"), col("dl"), col("t"), col("tf"))
    assert(pre.select(col("doc_id"), col("dl"), col("t"), col("tf"))
      .collect().toSet === post.collect().toSet)
    assert(pre.count() > 0, "term set must hit the fixture vocabulary")
  }

  test("adjacent_pairs kernel equals the HOF formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(47L)
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(12) + 1).map(_ => s"t${rnd.nextInt(20)}"))
    }.toDF("id", "tk")
    val kernel = docs.select(col("id"), explode(
      graft.functions.TextHashExpressions.adjacent_pairs(col("tk"))).as("p"))
      .select(col("id"), col("p.w1"), col("p.w2"))
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.toString))).toSeq
    val hof = docs.select(col("id"), explode(expr(
      "transform(sequence(1, size(tk)), i -> struct(" +
        "element_at(tk, i) AS w1, " +
        "CASE WHEN i < size(tk) THEN element_at(tk, i+1) END AS w2))")).as("p"))
      .select(col("id"), col("p.w1"), col("p.w2"))
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.toString))).toSeq
    assert(kernel.sorted == hof.sorted)
  }
}
