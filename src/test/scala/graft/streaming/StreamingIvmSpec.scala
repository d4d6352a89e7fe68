package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.operators.IncrementalAgg

/** The IVM family in its production streaming harness: a CDC changelog
  * arrives in micro-batches and `IncrementalAgg.maintain` folds each
  * batch into the stored rollup — the foreachBatch consumer a
  * continuously-maintained materialized view runs. After EVERY batch
  * the maintained view must equal a from-scratch aggregation of the
  * logical row store (tracked independently in plain Scala), including
  * groups that vanish mid-stream and keys that churn through
  * insert → update → delete → re-insert across batch boundaries.
  */
class StreamingIvmSpec extends AnyFunSuite with SharedSpark {

  test("maintained view equals recomputation after every micro-batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val rnd = new scala.util.Random(99L)
    // the logical row store the changelog describes: rowId -> (key, value)
    var store = Map.empty[Long, (Long, Long)]
    var nextRow = 0L
    def mkBatch(n: Int): Seq[(String, Long, Option[Long], Option[Long])] =
      (1 to n).map { _ =>
        val live = store.keys.toSeq.sorted
        val roll = rnd.nextInt(10)
        if (live.isEmpty || roll < 5) { // insert
          val k = rnd.nextInt(8).toLong
          val v = rnd.nextInt(1000).toLong
          store += nextRow -> (k, v); nextRow += 1
          ("c", k, None, Some(v))
        } else if (roll < 8) { // update (same key, new value)
          val rid = live(rnd.nextInt(live.size))
          val (k, old) = store(rid)
          val v = rnd.nextInt(1000).toLong
          store += rid -> (k, v)
          ("u", k, Some(old), Some(v))
        } else { // delete
          val rid = live(rnd.nextInt(live.size))
          val (k, old) = store(rid)
          store -= rid
          ("d", k, Some(old), None)
        }
      }

    // maintained view state, held as plain rows (view-sized by design)
    var view = Seq.empty[(Long, Long, Long)]
    val observed = scala.collection.mutable.Buffer.empty[Set[(Long, Long, Long)]]

    val input = MemoryStream[(String, Long, Option[Long], Option[Long])]
    val query = input.toDF().toDF("op", "k", "before", "after")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val base = view.toDF("k", "n", "total")
        view = IncrementalAgg.maintain(base, batch, "k")
          .as[(Long, Long, Long)].collect().toSeq
        observed += view.toSet
        (): Unit
      }
      .start()

    val expected = scala.collection.mutable.Buffer.empty[Set[(Long, Long, Long)]]
    try {
      (1 to 6).foreach { _ =>
        input.addData(mkBatch(25))
        // expected: recompute from the tracked row store AFTER this batch
        expected += store.values.groupBy(_._1).map { case (k, vs) =>
          (k, vs.size.toLong, vs.map(_._2).sum)
        }.toSet
        query.processAllAvailable()
      }
    } finally query.stop()

    assert(observed.size === 6)
    observed.zip(expected).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got === want, s"maintained view diverged after batch $i")
    }
  }
}
