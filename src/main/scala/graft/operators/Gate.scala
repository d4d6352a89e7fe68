package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: a named query, the DuckDB statement that checks it, and
  * the ingest-time work it reads. Every function takes the dataset dir.
  *
  * @param query   the gate's result frame
  * @param oracle  equivalent ANSI SQL runnable by DuckDB on the same
  *                parquet tables; takes the dir so an oracle that reads
  *                a stored artifact can name its path
  * @param prepare untimed and idempotent: builds the artifacts and
  *                driver memos a production session holds before the
  *                query runs (build-if-absent layouts and indexes, codec
  *                JIT). The query still builds what is missing, so
  *                skipping it changes cost, never results.
  */
final case class Gate(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: String => String,
    prepare: (SparkSession, String) => Unit = Gate.noPrepare)

object Gate {
  val noPrepare: (SparkSession, String) => Unit = (_, _) => ()
}

/** An operator family: its gates, plus the by-name view of their
  * queries that tests call. */
trait GateFamily {
  def gates: Seq[Gate]

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap
}
