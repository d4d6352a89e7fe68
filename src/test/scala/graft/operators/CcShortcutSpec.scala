package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The r16 single-partition contraction shortcut: when the whole
  * candidate graph fits one union-find task, the contraction's output is
  * already the final (minimum-member) labeling and the delta-iteration
  * loop is skipped. This spec pins the shortcut path ≡ the loop path
  * (forced via `edgesPerTask`) ≡ a sequential union-find reference on a
  * graph with chains (the loop's hard case), cliques, singletons and
  * self-loops.
  */
class CcShortcutSpec extends AnyFunSuite with SharedSpark {

  private def reference(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (c != r) { val nx = parent.getOrElse(c, c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (0L until n).map(v => v -> find(v)).toMap
  }

  test("shortcut path equals the forced-loop path and a sequential " +
      "reference on chains, cliques, singletons and self-loops") {
    import spark.implicits._
    val rnd = new scala.util.Random(19L)
    val n = 400L
    // long chains (cross-partition when the loop path splits them),
    // two cliques, some random edges, self-loops; nodes 350+ singletons
    val edges =
      (0L until 120L).map(i => (i, i + 1)) ++               // chain 0..121
      (200L until 230L).flatMap(i => Seq((200L, i))) ++      // star/clique
      (240L until 260L).combinations(2).map(c => (c(0), c(1))).toSeq ++
      Seq((300L, 300L), (301L, 301L)) ++                     // self-loops
      (0 until 60).map(_ => { val a = rnd.nextInt(340); val b = rnd.nextInt(340)
        (a.toLong, b.toLong) })
    val shuffled = rnd.shuffle(edges)
    val vertices = (0L until n).toDF("doc_id")
    val pairs = shuffled.toDF("ia", "ib").repartition(7)

    def labels(edgesPerTask: Long): Map[Long, Long] =
      DedupQueries.connectedComponents(vertices, pairs, edgesPerTask)
        .select(col("doc_id"), col("cluster"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val viaShortcut = labels(5000000L) // all edges in one contraction task
    val viaLoop = labels(16L)          // forces ≥ 10 contraction tasks
    val ref = reference(n, shuffled)
    assert(viaShortcut === ref, "shortcut path must match the reference")
    assert(viaLoop === ref, "forced-loop path must match the reference")
  }
}
