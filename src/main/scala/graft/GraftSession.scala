package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for the entry points (Verify, Bench) and the
  * test suites: every gate and every test runs under the same
  * configuration whichever of them drives it.
  */
object GraftSession {

  /** Core count from a `SPARK_GRAFT_CPUS` value: unset means every
    * available core; anything but a positive integer is rejected.
    */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS='$v' is not a positive integer"))
  }

  /** This process's core count, read from the environment once. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Gates a `SPARK_GRAFT_ONLY` value (`a,b,c`) restricts a run to:
    * unset means every gate; a name that is not one of `gates` is
    * rejected, so a typo cannot silently run nothing.
    */
  def parseOnly(raw: Option[String], gates: Set[String]): Option[Set[String]] =
    raw.map { v =>
      val names = v.split(",", -1).toSet
      val unknown = names -- gates
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"SPARK_GRAFT_ONLY='$v' names no gate: " +
          unknown.toSeq.sorted.map(n => s"'$n'").mkString(", "))
      names
    }

  /** This process's `SPARK_GRAFT_ONLY` restriction over every gate. */
  def only: Option[Set[String]] = parseOnly(sys.env.get("SPARK_GRAFT_ONLY"),
    SparkEntry.gates.map(_.name).toSet)

  def build(sfDir: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // split-per-core scan normalization (see Tables.autoSplitBytes)
      .config("spark.sql.files.maxPartitionBytes",
        Tables.autoSplitBytes(sfDir, cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // sort-based shuffle writer even at small reduce-partition counts
      // (r16): the bypass-merge writer opens one file per reduce
      // partition per map task, and slow-metadata filesystems pay for
      // every open (q_pagerank 4.4 → 2.4 s warm). Above 200 shuffle
      // partitions the bypass writer is off anyway, so at scale this
      // changes nothing.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // graft optimizer rules (row_number≤k → bounded-heap top-k): the
      // gates run THROUGH the rewrites, so the DuckDB oracle checks them
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // transformWithState (ChangeStreams.assembleStream,
      // CsfReassembly.reassembleStream) runs only on the RocksDB store
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
