package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate's query result → parquet,
  * plus every gate's oracle for this dataset → oracle_sql.json, for the
  * driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev loop (same contract as Bench): SPARK_GRAFT_ONLY=a,b,c restricts
    // the QUERY DUMP to named queries; oracle_sql.json is always written
    // in full — check.py iterates outDir subdirectories, so a filtered
    // re-run into a dir holding older full dumps must not downgrade the
    // untouched gates to unchecked rows-only results
    val only = GraftSession.only
    val gates = SparkEntry.gates
    val spark = GraftSession.build(sfDir, GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    gates.filter(g => only.forall(_.contains(g.name))).foreach { g =>
      try g.query(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
      // reclaim per-query materializations (same hygiene as Bench)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = gates.map(g => s"${q(g.name)}: ${q(g.oracle(sfDir))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
