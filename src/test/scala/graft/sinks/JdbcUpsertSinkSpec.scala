package graft.sinks

import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** End-to-end sink integration test against embedded Derby (the JDBC
  * driver that ships with Spark): upsert + delete + within-batch dedup,
  * executed from executor partitions like a real foreachBatch.
  */
class JdbcUpsertSinkSpec extends AnyFunSuite with SharedSpark {

  test("foreachBatch-style upsert/delete into Derby with batch dedup") {
    import spark.implicits._
    val url = "jdbc:derby:memory:sinktest;create=true"

    // batch: id=1 inserted then updated (dedup keeps the update),
    //        id=2 inserted, id=3 inserted then deleted (net: absent)
    val batch = Seq(
      (1L, "a-v1", 3, 100L, 10L),
      (1L, "a-v2", 3, 100L, 11L),
      (2L, "b", 3, 100L, 12L),
      (3L, "c", 3, 100L, 13L),
      (3L, "c", 2, 101L, 14L)
    ).toDF("id", "name", "op", "commitScn", "scn")

    val sink = JdbcUpsertSink(url, "target_t", keyCols = Seq("id"),
      dialect = DerbyDialect)
    sink.writeBatch(batch)

    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement()
      .executeQuery("SELECT id, name FROM target_t ORDER BY id")
    val rows = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toList
    conn.close()
    assert(rows == List((1L, "a-v2"), (2L, "b")))

    // second batch on existing table: update id=2, resurrect id=3
    val batch2 = Seq(
      (2L, "b-v2", 3, 200L, 20L),
      (3L, "c-v2", 1, 200L, 21L)
    ).toDF("id", "name", "op", "commitScn", "scn")
    sink.writeBatch(batch2)

    val conn2 = DriverManager.getConnection(url)
    val rs2 = conn2.createStatement()
      .executeQuery("SELECT id, name FROM target_t ORDER BY id")
    val rows2 = Iterator.continually(rs2)
      .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toList
    conn2.close()
    assert(rows2 == List((1L, "a-v2"), (2L, "b-v2"), (3L, "c-v2")))
  }

  test("keyless stream discovers the target's PRIMARY KEY from the catalog") {
    import spark.implicits._
    val url = "jdbc:derby:memory:pkdisc;create=true"
    val setup = DriverManager.getConnection(url)
    setup.createStatement().execute(
      "CREATE TABLE keyed_t (id BIGINT NOT NULL PRIMARY KEY, name VARCHAR(32))")
    setup.close()

    // the CDC stream arrived keyless — the reference sink reads the
    // PK from the target dictionary (JdbcSinkTableBase.java:200);
    // here keyCols = Nil must resolve to the table's declared PK,
    // case-insensitively (Derby stores ID upper-case, the stream says id)
    val sink = JdbcUpsertSink(url, "keyed_t", keyCols = Nil,
      dialect = DerbyDialect, autoCreate = false)
    val batch = Seq(
      (1L, "a-v1", 3, 100L, 10L),
      (1L, "a-v2", 3, 100L, 11L),
      (2L, "b", 3, 100L, 12L)
    ).toDF("id", "name", "op", "commitScn", "scn")
    sink.writeBatch(batch)
    // second write updates through the discovered key (cache path)
    sink.writeBatch(Seq((2L, "b-v2", 3, 200L, 20L))
      .toDF("id", "name", "op", "commitScn", "scn"))

    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement()
      .executeQuery("SELECT id, name FROM keyed_t ORDER BY id")
    val rows = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toList
    conn.close()
    assert(rows == List((1L, "a-v2"), (2L, "b-v2")))
  }

  test("a failed batch invalidates the key cache so a recreated target re-probes") {
    import spark.implicits._
    val url = "jdbc:derby:memory:kinval;create=true"
    val setup = DriverManager.getConnection(url)
    setup.createStatement().execute(
      "CREATE TABLE inval_t (id BIGINT NOT NULL PRIMARY KEY, name VARCHAR(32))")
    setup.close()

    val sink = JdbcUpsertSink(url, "inval_t", keyCols = Nil,
      dialect = DerbyDialect, autoCreate = false)
    sink.writeBatch(Seq((1L, "a", 3, 100L, 10L))
      .toDF("id", "name", "op", "commitScn", "scn"))

    // DBA recreates the target keyed differently — the old key column
    // is GONE, so the next batch's stale-key SQL fails hard
    val ddl = DriverManager.getConnection(url)
    ddl.createStatement().execute("DROP TABLE inval_t")
    ddl.createStatement().execute(
      "CREATE TABLE inval_t (k VARCHAR(8) NOT NULL PRIMARY KEY, name VARCHAR(32))")
    ddl.close()

    val batch2 = Seq(("x", "b", 3, 200L, 20L))
      .toDF("k", "name", "op", "commitScn", "scn")
    // stale cache: the sink still binds on id, which no longer exists
    intercept[Exception] { sink.writeBatch(batch2) }
    // the failure dropped the cached discovery — the SAME sink now
    // re-probes, finds PK (k) and lands the batch
    sink.writeBatch(batch2)

    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement()
      .executeQuery("SELECT k, name FROM inval_t")
    val rows = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getString(1), r.getString(2))).toList
    conn.close()
    assert(rows == List(("x", "b")))
  }

  test("keyless stream falls back to a NOT-NULL unique index as the key") {
    import spark.implicits._
    val url = "jdbc:derby:memory:uqdisc;create=true"
    val setup = DriverManager.getConnection(url)
    // no PK; one nullable unique index (must be skipped — not
    // well-defined) and one NOT NULL unique index (the key)
    setup.createStatement().execute(
      "CREATE TABLE uq_t (id BIGINT NOT NULL UNIQUE, " +
        "alt VARCHAR(8), name VARCHAR(32))")
    setup.createStatement().execute(
      "CREATE UNIQUE INDEX uq_alt ON uq_t(alt)")
    setup.close()

    val sink = JdbcUpsertSink(url, "uq_t", keyCols = Nil,
      dialect = DerbyDialect, autoCreate = false)
    val batch = Seq(
      (1L, "x", "a-v1", 3, 100L, 10L),
      (1L, "x", "a-v2", 3, 100L, 11L)
    ).toDF("id", "alt", "name", "op", "commitScn", "scn")
    sink.writeBatch(batch)

    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement()
      .executeQuery("SELECT id, name FROM uq_t ORDER BY id")
    val rows = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toList
    conn.close()
    assert(rows == List((1L, "a-v2")))
  }

  test("transient lock-timeout victims roll back, retry in-task and land") {
    import spark.implicits._
    val url = "jdbc:derby:memory:retrytest;create=true"
    val setup = DriverManager.getConnection(url)
    // 1-second lock timeout, scoped to THIS database (not engine-wide)
    setup.createStatement().execute(
      "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.locks.waitTimeout','1')")
    setup.close()

    val sink = JdbcUpsertSink(url, "rt_t", keyCols = Seq("id"),
      dialect = DerbyDialect)
    // first write auto-creates the table and seeds id=1
    sink.writeBatch(
      Seq((1L, "old", 3, 100L, 10L)).toDF("id", "name", "op", "commitScn", "scn"))

    // an out-of-band writer holds an exclusive row lock on id=1 long
    // enough that the sink's first MERGE attempt (and, margins willing,
    // its second) is a Derby lock-timeout VICTIM — SQLState 40XL1, a
    // SQLTransactionRollbackException the sink must classify transient
    val holder = DriverManager.getConnection(url)
    holder.setAutoCommit(false)
    holder.createStatement()
      .executeUpdate("UPDATE rt_t SET name = 'held' WHERE id = 1")
    val releaser = new Thread(() => {
      Thread.sleep(2500)
      holder.commit(); holder.close()
    })
    releaser.start()

    JdbcUpsertSink.lastRetryCount = 0
    // one partition so the retried attempt is the observed one
    sink.writeBatch(
      Seq((1L, "new", 3, 200L, 20L)).toDF("id", "name", "op", "commitScn", "scn")
        .coalesce(1))
    releaser.join()

    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement()
      .executeQuery("SELECT name FROM rt_t WHERE id = 1")
    assert(rs.next()); val got = rs.getString(1)
    conn.close()
    assert(got == "new",
      s"retried upsert must land after the lock releases (got '$got')")
    assert(JdbcUpsertSink.lastRetryCount >= 1,
      "the first attempt must have been a timed-out victim that retried " +
        "(raise the holder sleep if this box times out locks slowly)")
  }
}
