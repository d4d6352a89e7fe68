package graft.redo

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** S5 distributed gap audit: every missing per-thread sequence run is
  * reported exactly once with correct bounds, duplicates and unordered
  * input are tolerated, and a gapless thread reports nothing — the
  * distributed counterpart of RedoLogReader.listLogs' throw-on-gap
  * (covered by RedoLogSpec).
  */
class RedoTopologySpec extends AnyFunSuite with SharedSpark {

  private def report(rows: Seq[(Int, Long)]): Set[(Int, Long, Long, Long)] = {
    import spark.implicits._
    RedoTopology.gapReport(rows.toDF("thread", "seq"), "thread", "seq")
      .as[(Int, Long, Long, Long)].collect().toSet
  }

  test("gapless threads report nothing") {
    assert(report(Seq(1 -> 1L, 1 -> 2L, 1 -> 3L, 2 -> 7L, 2 -> 8L)).isEmpty)
  }

  test("each missing run reported once with inclusive bounds") {
    val got = report(Seq(
      1 -> 1L, 1 -> 2L, 1 -> 5L, 1 -> 6L, 1 -> 10L, // gaps [3,4] and [7,9]
      2 -> 100L, 2 -> 102L))                        // gap [101,101]
    assert(got === Set(
      (1, 3L, 4L, 2L), (1, 7L, 9L, 3L), (2, 101L, 101L, 1L)))
  }

  test("threads are independent: seq present on one thread can be a gap on another") {
    val got = report(Seq(1 -> 1L, 1 -> 3L, 2 -> 2L))
    assert(got === Set((1, 2L, 2L, 1L)))
  }

  test("duplicate coordinates (multiplexed destinations) and unordered input are tolerated") {
    val got = report(Seq(1 -> 5L, 1 -> 1L, 1 -> 5L, 1 -> 1L, 1 -> 2L))
    assert(got === Set((1, 3L, 4L, 2L)))
  }

  test("single-segment threads report nothing") {
    assert(report(Seq(1 -> 42L, 2 -> 7L)).isEmpty)
  }

  test("matches a reference fold on random topologies (one Spark job)") {
    val rnd = new scala.util.Random(11)
    val topo = Seq.fill(4000) {
      (rnd.nextInt(5) + 1, rnd.nextInt(300).toLong)
    }
    def reference(rows: Seq[(Int, Long)]): Set[(Int, Long, Long, Long)] =
      rows.groupBy(_._1).flatMap { case (t, rs) =>
        rs.map(_._2).distinct.sorted.sliding(2).collect {
          case Seq(a, b) if b > a + 1 => (t, a + 1, b - 1, b - a - 1)
        }
      }.toSet
    assert(report(topo) === reference(topo))
  }
}
