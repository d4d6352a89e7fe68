package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions.expr

/** Parquet table access for the driver-generated testdata
  * (see /root/repo/TESTDATA.md). All queries take the sf directory as a
  * runtime argument so the same code runs at sf0.001 (smoke), sf0.01
  * (correctness) and sf0.1+ (bench) — and, on a real cluster, against
  * a 100 TB lakehouse path with identical plans.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** `events.ts` — parquet TIMESTAMP (µs, isAdjustedToUTC=false, so Spark
    * reads TIMESTAMP_NTZ) — as exact integer epoch microseconds, the unit
    * every temporal query does its math in so Spark and the DuckDB oracle
    * (`epoch_us(ts)`) agree bit-for-bit. Spark coerces the NTZ operands
    * to the session zone (the plan shows `timestampdiff(..., Some(UTC))`),
    * so this equals `epoch_us` of the wall-clock value under the UTC
    * session every graft entry point configures (Verify/Bench/run.sh and
    * all specs set `spark.sql.session.timeZone=UTC`); a DST zone would
    * shift the two casts unequally.
    */
  val tsMicros: Column =
    expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")

  /** Read with input parallelism normalized to the cluster's core count.
    *
    * The driver testdata is one parquet row group per table, so a plain
    * scan yields ONE input partition and every map-side stage above it
    * (shingle hashing, codec decode, vector math) runs single-threaded.
    * On a real 100 TB lakehouse the file/row-group count dwarfs the core
    * count and this helper is a no-op — the spread is applied ONLY when
    * the scan's own parallelism is below the session default, so big
    * inputs never pay an extra shuffle.
    *
    * The spread is a [[graft.plans.Spread]] node, not a `repartition`:
    * Spark's predicate pushdown moves a filter through a `Repartition`
    * and substitutes the aliased kernel expressions into it, so the
    * filters that carry the kernels ran in the one-task scan stage below
    * the spread (29 of the 154 gates, `pipe_curate` among them). Filters
    * are not pushed through `Spread`; column pruning still is. The node
    * is planned by `graft.plans.SpreadStrategy`, which every
    * `GraftSession` installs through `GraftExtensions`.
    */
  def tablePar(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = table(spark, sfDir, name)
    val target = spark.sparkContext.defaultParallelism
    // a local-path size probe is enough: the scan yields ~size/maxPartitionBytes
    // partitions, so small inputs (few row groups) get an explicit spread.
    // walkFiles, not File.length: on a DIRECTORY-shaped table (Spark-written
    // part files) length() returns the ~4 KB dir entry, which would force a
    // full repartition shuffle of arbitrarily big inputs — the opposite of
    // the documented big-inputs-never-pay contract. filesMaxPartitionBytes
    // is the SESSION-parsed value ("128m"-style byte-size strings included).
    val f = new java.io.File(s"$sfDir/$name.parquet")
    val bytes = walkFiles(f).map(_.length()).sum
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    val scanParts = math.max(1L, bytes / math.max(1L, maxPart))
    if (f.exists() && scanParts < math.max(2, target / 2))
      GraftSqlBridge.wrapPlan(df)(graft.plans.Spread(target, _))
    else df
  }

  // compute-heavy tables: normalized parallelism (map-side work above
  // them — shingle hashing, vector math — dominates the scan itself, and
  // the spread keeps every filter on it above the exchange, see tablePar)
  def documents(s: SparkSession, d: String): DataFrame = tablePar(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = tablePar(s, d, "embeddings")
  // relational tables: plain scans — their queries shuffle on their own
  // keys anyway, and an input repartition would be recomputed per branch
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")

  /** Stable per-dataset artifact location under the JVM temp dir:
    * `<tmp>/<prefix>-<sha256(canonical dir) first 16 hex>`. The digest of
    * the CANONICAL path is collision-resistant where `String.hashCode`
    * is not (two datasets with colliding hashCodes would silently share
    * one artifact). Writers publish via [[publishDir]].
    */
  def artifactPath(prefix: String, dir: String): String = {
    val canonical = new java.io.File(dir).getCanonicalPath
    s"${System.getProperty("java.io.tmpdir")}/$prefix-${hex8(canonical)}"
  }

  /** Unique temp-dir suffix for artifact writers: pid alone collides
    * across threads of one JVM (parallel suites, Bench warmup racing a
    * gate), so a per-invocation nonce rides along.
    */
  private val tmpNonce = new java.util.concurrent.atomic.AtomicLong(0L)
  def tmpSuffix(): String =
    ".tmp-" + ProcessHandle.current().pid() + "-" + tmpNonce.incrementAndGet()

  /** Content fingerprint of one dataset table (paths, sizes, mtimes —
    * file- or directory-shaped), for artifact completeness markers: a
    * dataset regenerated IN PLACE changes the fingerprint and forces a
    * rebuild even though the path is unchanged.
    */
  def tableFingerprint(dir: String, tableFile: String): String =
    hex8(walkFiles(new java.io.File(s"$dir/$tableFile"))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|"))

  /** The completeness-marker stamp of a published artifact, None when
    * absent/unreadable (an incomplete or in-flight publish).
    */
  def readMarker(path: String): Option[String] = {
    val ok = java.nio.file.Paths.get(s"$path/_GRAFT_OK")
    try {
      if (java.nio.file.Files.exists(ok))
        Some(java.nio.file.Files.readString(ok))
      else None
    } catch { case _: java.io.IOException => None }
  }

  /** The marker-gated build-once artifact lifecycle, shared by every
    * artifact writer (curated base, RRF index, bucketed layout): if
    * `path/_GRAFT_OK` already holds `stamp`, the build short-circuits
    * (returns false); otherwise `build` runs into a fresh unique temp
    * dir, the marker is stamped LAST inside it, and the whole dir is
    * atomically published over `path` (returns true). The stamp should
    * carry a semantics version + a source-data fingerprint
    * ([[tableFingerprint]]) so code changes and in-place dataset
    * regeneration both force a rebuild. The marker can vanish between
    * exists() and read — a concurrent [[publishDir]]'s no-target
    * window; a missing/unreadable marker means build, never an error.
    */
  def ensureArtifact(path: String, stamp: String, force: Boolean = false)(
      build: String => Unit): Boolean = {
    val marker = readMarker(path)
    if (!force && marker.contains(stamp)) return false
    val tmp = path + tmpSuffix()
    try {
      build(tmp)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/_GRAFT_OK"), stamp)
    } catch { case e: Throwable =>
      // a failed/interrupted build must not strand its temp dir (these
      // can be multi-GB; the nonce guarantees every retry would orphan
      // another one) — clean up, then surface the original error
      try rmTree(java.nio.file.Paths.get(tmp))
      catch { case c: Exception => e.addSuppressed(c) }
      throw e
    }
    publishDir(tmp, path)
    true
  }

  /** First 8 bytes of SHA-256(s), lowercase hex — the shared digest for
    * artifact keying ([[artifactPath]]) and content fingerprints; one
    * definition so a width change can never desynchronize them.
    */
  def hex8(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** All regular files under `f` (itself, if a file), child-name-sorted
    * at each level — the one definition of "what counts as dataset
    * content" shared by [[autoSplitBytes]] and the artifact
    * fingerprints, so size math and staleness detection can never
    * disagree on it.
    */
  def walkFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).getOrElse(Array.empty).toSeq
      .sortBy(_.getName).flatMap(walkFiles)

  /** Parquet split size that yields at least ~one scan task per core
    * over the session's input directory: `totalInputBytes / cores`,
    * clamped to [16 MB, 128 MB]. The driver testdata is one FILE per
    * table, so at bench scale (a ~1.2 GB fact file on 32 cores) the
    * stock 128 MB split leaves the scan 3-4× under-parallel — the
    * map side of every join/agg above it idles 24 of 32 cores. On a
    * real lakehouse the clamp returns the 128 MB default long before
    * the data reaches 100 TB (any dir > cores×128 MB), so this is a
    * small-file-count normalization, not a task-explosion knob: it
    * can only LOWER the split size when the whole input would
    * otherwise produce fewer splits than cores.
    */
  def autoSplitBytes(sfDir: String, cores: Int): Long = {
    // tables can be single files OR Spark-written directories
    // (name.parquet/part-*.parquet) — sum both, or a directory-shaped
    // dataset would read as total = 0 and land on the 16 MB floor,
    // the opposite of the documented many-file clamp
    val total = Option(new java.io.File(sfDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .flatMap(walkFiles).map(_.length()).sum
    math.max(16L << 20, math.min(128L << 20, total / math.max(1, cores)))
  }

  private def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  /** Publish a freshly written artifact directory over its stable
    * location: the stale target (if any) moves aside and the temp dir
    * renames into place — a same-filesystem rename, so a reader never
    * sees a half-written mix (the write-to-temp-and-rename lifecycle).
    * Between the two renames there is a brief no-target window; every
    * consumer treats a missing/incomplete artifact (no completeness
    * marker) as build-if-absent, so the window degrades to a rebuild,
    * never to reading a partial artifact. If a concurrent publisher
    * wins any of the races, its artifact is complete and equivalent —
    * ours is dropped.
    */
  def publishDir(tmp: String, target: String): Unit = {
    import java.nio.file.{Files, Paths, NoSuchFileException,
      DirectoryNotEmptyException, FileAlreadyExistsException,
      AccessDeniedException}
    import java.nio.file.StandardCopyOption.ATOMIC_MOVE
    val t = Paths.get(target)
    // the move-aside path carries the same pid+nonce uniqueness as
    // tmpSuffix: pid alone collides for two THREADS of one JVM
    // publishing the same artifact — the loser's Files.move(t, old)
    // would throw FileAlreadyExistsException after a successful build
    // and strand its multi-GB tmp dir
    val old = Paths.get(target + ".old-" +
      ProcessHandle.current().pid() + "-" + tmpNonce.incrementAndGet())
    rmTree(old)
    // a concurrent publisher may move t aside between the exists()
    // check and our move — that race means a publish is in flight
    try { if (Files.exists(t)) Files.move(t, old) }
    catch { case _: NoSuchFileException => }
    try Files.move(Paths.get(tmp), t, ATOMIC_MOVE)
    catch {
      // Linux reports a rename onto an existing non-empty directory
      // as ENOTEMPTY (DirectoryNotEmptyException), not
      // FileAlreadyExistsException — catch both plus the
      // permission-shaped variant; all mean a concurrent publisher
      // won the rename, so keep theirs and drop ours
      case _: FileAlreadyExistsException | _: DirectoryNotEmptyException |
           _: AccessDeniedException =>
        rmTree(Paths.get(tmp))
    }
    rmTree(old)
  }
}
