package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** S3: SCN-windowed JDBC polling against embedded Derby — the
  * V$LOGMNR_CONTENTS-shaped path. Checks windowing, schema inference via
  * the dictionary reader, and checkpoint resume picking up only new rows.
  */
class JdbcPollSourceSpec extends AnyFunSuite with SharedSpark {

  test("polls watermark windows, resumes from checkpoint on new data") {
    val url = "jdbc:derby:memory:polltest;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE APP.CHANGES (
      SCN BIGINT NOT NULL PRIMARY KEY,
      OP INT NOT NULL,
      TAB VARCHAR(30),
      VAL NUMERIC(12,2))""")
    (1 to 20).foreach(i => st.execute(
      s"INSERT INTO APP.CHANGES VALUES ($i, ${i % 3 + 1}, 'S.T', $i.50)"))

    val ckpt = SharedSpark.tempDir("poll_ckpt").toFile.getAbsolutePath
    def runOnce(): Seq[(Long, String)] = {
      val got = collection.mutable.ArrayBuffer[(Long, String)]()
      val df = spark.readStream.format("graft-jdbc-poll")
        .option("url", url)
        .option("table", "APP.CHANGES")
        .option("wmColumn", "SCN")
        .option("numPartitions", "4")
        .load()
      val q = df.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            got ++= b.collect().map(r =>
              (r.getLong(0), r.getDecimal(3).toPlainString))
          }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(180000), "stream did not finish in time")
      got.toSeq.sortBy(_._1)
    }

    val first = runOnce()
    assert(first.size === 20)
    assert(first.map(_._1) === (1L to 20L))
    assert(first.last._2 === "20.50")

    // new rows arrive; a resumed query must deliver ONLY scn 21..25
    (21 to 25).foreach(i => st.execute(
      s"INSERT INTO APP.CHANGES VALUES ($i, 1, 'S.T', $i.25)"))
    val second = runOnce()
    assert(second.map(_._1) === (21L to 25L))
    assert(second.head._2 === "21.25")
    conn.close()
  }

  /** The error a stream with `option = v` fails with when it is built. */
  private def rejected(option: String, v: String): String = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("url", "jdbc:derby:memory:unused")
    opts.put("table", "APP.CHANGES")
    opts.put("wmColumn", "SCN")
    opts.put(option, v)
    intercept[IllegalArgumentException](new JdbcPollStream(
      new org.apache.spark.sql.types.StructType(),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))).getMessage
  }

  test("numPartitions must be a positive integer") {
    // 0 divided by zero when a batch was planned; a negative count
    // planned no partitions and skipped the window's rows
    Seq("0", "-3", "four").foreach { v =>
      assert(rejected("numPartitions", v) ===
        s"graft-jdbc-poll option numPartitions='$v' is not a positive integer")
    }
  }

  test("lagBehind must be a long >= 0") {
    // a negative margin set the offset past MAX(wm): rows committed
    // later inside it were never read
    Seq("-1", "soon").foreach { v =>
      assert(rejected("lagBehind", v) ===
        s"graft-jdbc-poll option lagBehind='$v' is not a long >= 0")
    }
  }

  test("fetchSize must be a positive integer") {
    Seq("0", "-10", "1e3").foreach { v =>
      assert(rejected("fetchSize", v) ===
        s"graft-jdbc-poll option fetchSize='$v' is not a positive integer")
    }
  }

  test("startWm must be a long") {
    Seq("abc", "1.5", "").foreach { v =>
      assert(rejected("startWm", v) === s"graft-jdbc-poll option startWm='$v' is not a long")
    }
  }
}
