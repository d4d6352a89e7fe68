package graft.operators

import org.apache.spark.sql.DataFrame

/** The one operator internal the benchmark's traced run counts: the capped
  * LSH candidate set that `DedupQueries.jaccardOnCandidates` verifies.
  * Lives in the operators package because the candidate step is
  * package-private there.
  */
object BenchTaps {
  def candidatePairs(hashes: DataFrame, maxBucket: Int): DataFrame =
    DedupQueries.lshCandidatePairsCapped(hashes, maxBucket)
}
