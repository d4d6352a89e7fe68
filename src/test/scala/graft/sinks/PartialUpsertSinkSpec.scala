package graft.sinks

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** K4: wrapped-data partial updates — present columns only, update-then-
  * insert fallback, delete by key.
  */
class PartialUpsertSinkSpec extends AnyFunSuite with SharedSpark {

  test("partial updates touch only present columns; absent stays intact") {
    val url = "jdbc:derby:memory:partial;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE APP.W (ID INT NOT NULL PRIMARY KEY,
        A VARCHAR(20), B VARCHAR(20), C VARCHAR(20))""")

    import spark.implicits._
    val batch = Seq(
      // full insert shape {A,B,C}
      (1, "u", Map("A" -> "a1", "B" -> "b1", "C" -> "c1")),
      (2, "u", Map("A" -> "a2", "B" -> "b2", "C" -> "c2")),
      // partial update shape {B} — A and C must stay
      (1, "u", Map("B" -> "b1x")),
      // partial update shape {A,C}
      (2, "u", Map("A" -> "a2x", "C" -> "c2x")),
      // new row arriving as a partial shape → insert of present cols only
      (3, "u", Map("B" -> "b3")),
      // delete by key
      (4, "u", Map("A" -> "gone")),
      (4, "d", Map.empty[String, String]))
      .toDF("ID", "op", "vals")
      .coalesce(1) // single partition: batch order is apply order

    val sink = PartialUpsertSink(url, "APP.W", keyCols = Seq("ID"))
    sink.writeBatch(batch)

    val rs = conn.createStatement().executeQuery(
      "SELECT ID, A, B, C FROM APP.W ORDER BY ID")
    val got = Iterator.continually(rs).takeWhile(_.next())
      .map(r => (r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
      .toList
    conn.close()
    assert(got === List(
      (1, "a1", "b1x", "c1"),
      (2, "a2x", "b2", "c2x"),
      (3, null, "b3", null)))
    // 4 distinct present-column shapes → 4 cached update statements
    assert(PartialUpsertSink.lastStatementCacheSize === 4)
  }
}
