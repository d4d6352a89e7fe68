package graft.operators

import java.nio.file.Files
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables.{customer, orders}
import graft.sinks.{DerbyDialect, JdbcUpsertSink, PartialUpsertSink}

/** Driver gates for the JDBC-side operators that round 1 covered only
  * with ScalaTest: S3 (SCN-windowed poll source, with S9 dictionary
  * schema inference in-path), K3 (auto-create DDL) and K4 (wrapped-data
  * partial upsert). Each gate drives a REAL embedded-Derby database end
  * to end and projects the final state back out; the DuckDB oracle
  * states the same result straight from the parquet tables, so the
  * whole JDBC round trip (DDL, batching, windowing, partial updates,
  * deletes) must be value-exact.
  *
  * In-memory Derby is per-JVM — fine in local mode where executors
  * share the driver JVM (the same caveat as `SourceQueries
  * .writeRedoLogs`; on a real cluster point `url` at a server).
  */
object JdbcGateQueries extends GateFamily {

  // fresh database per invocation: gates may run repeatedly in one JVM
  // (bench warmup) and must not see prior state
  private val dbSeq = new AtomicInteger(0)

  /** Drop an in-memory Derby database once its gate is done with it —
    * each one holds a full table copy on the heap, and a bench session
    * invokes the gates many times. Derby signals a successful drop by
    * THROWING (SQLState 08006), so the "error" path is the success path.
    */
  private def dropDerby(url: String): Unit =
    try {
      DriverManager.getConnection(
        url.replace(";create=true", "") + ";drop=true")
      ()
    } catch { case _: java.sql.SQLException => () }

  // seed writers and JDBC batch size: the r17 sweep found these optimal
  // (larger batches trip Derby's 5000-row lock escalation)
  private val SeedParts = 32
  private val JdbcBatch = 1000

  def gates: Seq[Gate] = Seq(
    // S3: orders seeded into a Derby "change table" keyed by SCN, then
    // read back through the graft-jdbc-poll micro-batch source (schema
    // inferred via the S9 dictionary reader, windows split across 8
    // partitions) into parquet, one batch at a time.
    Gate("s3_jdbc_poll", (s, dir) => {
      val url = s"jdbc:derby:memory:s3gate${dbSeq.incrementAndGet()};create=true"
      val conn = DriverManager.getConnection(url)
      conn.createStatement().execute(
        """CREATE TABLE APP.ORD_CDC (
          |  SCN BIGINT NOT NULL PRIMARY KEY,
          |  CUSTKEY BIGINT NOT NULL,
          |  PRICE NUMERIC(12,2) NOT NULL)""".stripMargin)
      conn.close()
      orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(12,2)").as("price"))
        .coalesce(SeedParts)
        .foreachPartition { (rows: Iterator[Row]) =>
          if (rows.nonEmpty) {
            val c = DriverManager.getConnection(url)
            c.setAutoCommit(false)
            val ps = c.prepareStatement("INSERT INTO APP.ORD_CDC VALUES (?, ?, ?)")
            var n = 0
            try {
              rows.foreach { r =>
                ps.setLong(1, r.getLong(0))
                ps.setLong(2, r.getLong(1))
                ps.setBigDecimal(3, r.getDecimal(2))
                ps.addBatch(); n += 1
                if (n % JdbcBatch == 0) ps.executeBatch()
              }
              ps.executeBatch()
              c.commit()
            } finally { ps.close(); c.close() }
          }
        }
      val fs = FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      // the result is read lazily from outDir, so it goes at JVM exit
      val outDir = Files.createTempDirectory("s3_poll_out").toFile.getAbsolutePath
      fs.deleteOnExit(new Path(outDir))
      val ckpt = Files.createTempDirectory("s3_poll_ckpt").toFile.getAbsolutePath
      val q = s.readStream.format("graft-jdbc-poll")
        .option("url", url)
        .option("table", "APP.ORD_CDC")
        .option("wmColumn", "SCN")
        // orderkeys start at 0; the watermark window is (startWm, max]
        .option("startWm", "-1")
        .option("numPartitions", "8")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      // a timed-out stream must fail loudly, not fall through to read a
      // partially-written directory while the query still runs
      try {
        if (!q.awaitTermination(300000)) {
          q.stop()
          throw new IllegalStateException(
            "s3_jdbc_poll: AvailableNow drain did not finish within 300s")
        }
      } finally fs.delete(new Path(ckpt), true)
      // the stream has drained to parquet; the Derby copy of orders is
      // dead weight from here — release its heap
      dropDerby(url)
      s.read.parquet(outDir)
        .select(col("SCN").as("o_orderkey"), col("CUSTKEY").as("custkey"),
          col("PRICE").cast("double").as("price"))
    }, _ =>
      """SELECT o_orderkey, o_custkey AS custkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // K3+K4: customers upserted into an auto-created Derby table (K3
    // DDL from the Spark schema), then a wrapped-data partial-update
    // pass touches ONLY the account balance of every 3rd customer and
    // deletes every 7th (K4 semantics: absent columns untouched).
    Gate("k3_k4_apply", (s, dir) => {
      val url = s"jdbc:derby:memory:k34gate${dbSeq.incrementAndGet()};create=true"
      val table = "CUST_TGT"
      val base = customer(s, dir).select(
        col("c_custkey").as("ID"),
        col("c_name").as("NAME"),
        col("c_acctbal").cast("decimal(12,2)").cast("string").as("ACCTBAL"))
      val sink = JdbcUpsertSink(url, table, keyCols = Seq("ID"),
        dialect = DerbyDialect,
        batchSize = JdbcBatch)
      sink.writeBatch(base
        .withColumn("op", lit(graft.cdc.Ops.Insert))
        .withColumn("commitScn", col("ID"))
        .withColumn("scn", col("ID")))
      val partial = PartialUpsertSink(url, table, keyCols = Seq("ID"))
      partial.writeBatch(base
        .filter(col("ID") % 3 === 0)
        .select(col("ID"), lit("u").as("op"),
          map(lit("ACCTBAL"),
            (col("ACCTBAL").cast("decimal(12,2)") + 100)
              .cast("decimal(12,2)").cast("string")).as("vals")))
      partial.writeBatch(base
        .filter(col("ID") % 7 === 0)
        .select(col("ID"), lit("d").as("op"),
          map().cast("map<string,string>").as("vals")))
      // materialize the applied table (eager localCheckpoint truncates
      // the lineage off Derby) so the database — a full customer copy on
      // the heap — can be dropped HERE instead of leaking per invocation.
      // localCheckpoint is the right tool because this gate is local-mode
      // by construction (in-memory Derby is per-JVM, see scaladoc above).
      val out = s.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .load()
        .select(col("ID").cast("long").as("id"), col("NAME").as("name"),
          col("ACCTBAL").cast("double").as("acctbal"))
        .localCheckpoint(true)
      dropDerby(url)
      out
    }, _ =>
      """SELECT c_custkey AS id, c_name AS name,
        |       CAST(CASE WHEN c_custkey % 3 = 0
        |                 THEN CAST(c_acctbal AS DECIMAL(12,2)) + 100
        |                 ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS DOUBLE) AS acctbal
        |FROM customer
        |WHERE c_custkey % 7 <> 0
        |ORDER BY id""".stripMargin)
  )
}
