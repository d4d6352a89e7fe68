package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** §2.60 at the production scale path: hard negatives mined from the
  * PERSISTED IVF-PQ index ([[SimilarityQueries.hardNegIdx]]) must
  * recover most of the brute gate's band — the ANCE between-epoch
  * refresh serves from exactly such an index, so the property that
  * matters is band recall, not exactness (nprobe = 4 of 16 cells is
  * approximate by design). Also pins the exclusion invariants that
  * must hold REGARDLESS of the candidate machinery: no self, no
  * labeled positive, exactly k per query.
  */
class HardNegMiningSpec extends AnyFunSuite with SharedSpark {

  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test(s"index-served mining matches the brute band above the " +
        s"recall floor ($dir)") {
      val s = spark
      val brute = SimilarityQueries.queries("emb_hardneg")(s, dir)
        .select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val idx = SimilarityQueries.hardNegIdx(s, dir)
        .select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(idx.keySet == brute.keySet, "every query must mine")

      // exclusion invariants hold for the index-served variant too
      idx.foreach { case (qid, negs) =>
        assert(negs.size == 5, s"q$qid: exactly k=5 negatives, got $negs")
        assert(!negs.contains(qid), s"q$qid mined itself")
        assert(!negs.contains(qid + 1) && !negs.contains(qid + 2),
          s"q$qid mined a labeled positive")
      }

      val recalls = brute.map { case (qid, b) =>
        idx(qid).intersect(b).size.toDouble / b.size
      }
      val mean = recalls.sum / recalls.size
      // same convention as the dense-arm floor (HybridSplitSpec): the
      // index must be RETRIEVING the band, not reproducing it exactly
      assert(mean >= 0.5,
        s"mean band recall $mean below floor (per-q: $recalls)")
    }
  }
}
