package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** PageRank semantics (§2.65): the distributed superstep loop must equal
  * a sequential reference implementation EXACTLY (the arithmetic is
  * integer micro-units precisely so two executions cannot drift), stay
  * invariant under input partitioning, and conserve the damped mass
  * bound that makes the int64 domain argument hold.
  */
class GraphQueriesSpec extends AnyFunSuite with SharedSpark {

  /** Sequential reference: same integer recurrence, plain Maps. */
  private def reference(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val in = collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (s, d) =>
        in(d) = in.getOrElse(d, 0L) + r(s) / deg(s)
      }
      r = in.map { case (n, c) => n -> (150000L + 85L * c / 100L) }.toMap
    }
    r
  }

  test("distributed supersteps equal the sequential reference exactly " +
      "on a random symmetric graph, under adversarial partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(907)
    // random bipartite-ish pairs, symmetrized (every node has out-edges)
    val pairs = (1 to 400).map(_ =>
      (rnd.nextInt(30).toLong, 1000L + rnd.nextInt(20))).distinct
    val edges = pairs ++ pairs.map(_.swap)
    val expected = reference(edges, 5)

    Seq(1, 7).foreach { parts =>
      val df = edges.toDF("src", "dst").repartition(parts)
      val got = GraphQueries.pageRank(df, 5)
        .as[(Long, Long)].collect().toMap
      assert(got == expected,
        s"parts=$parts: diff=${(got.toSet -- expected.toSet).take(5)}")
    }
    // damped-mass sanity: total rank stays within the conserved bound
    // (0.15·N·1e6 + 0.85·previous total — with a symmetric graph no
    // mass leaks except floor-division remainders)
    val total = expected.values.sum
    val n = expected.size
    assert(total <= n * 1000000L && total > n * 500000L,
      s"mass out of band: $total for $n nodes")
  }

  test("a two-node cycle is the fixed point: ranks stay at 1e6") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = GraphQueries.pageRank(df, 4).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L))
  }
}
