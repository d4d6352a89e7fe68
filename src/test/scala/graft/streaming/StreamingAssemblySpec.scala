package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.cdc._

/** End-to-end Structured Streaming test: MemoryStream of redo records →
  * transformWithState assembly → memory sink (SURVEY.md §5 test plan
  * item c). Proves commit-deferred emission works across micro-batches —
  * changes arriving in batch 1 emit only when the COMMIT arrives in a
  * later batch, and ROLLBACK discards buffered state silently.
  */
class StreamingAssemblySpec extends AnyFunSuite with SharedSpark {

  private def rec(scn: Long, xid: String, op: Int, rowId: String = "",
      after: Map[String, String] = Map.empty) =
    RedoRecord(scn, 0, xid, op, "T", rowId, rollback = false, 0, Map.empty, after)

  test("commit in a later micro-batch releases buffered changes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RedoRecord]
    val q = ChangeStreams.assembleStream(input.toDS())
      .writeStream.format("memory").queryName("assembled")
      .outputMode("append").start()
    try {
      // batch 1: two open transactions, no commits → nothing emitted
      input.addData(
        rec(10, "tx1", Ops.Insert, "r1", Map("c" -> "1")),
        rec(11, "tx2", Ops.Insert, "r2", Map("c" -> "2")))
      q.processAllAvailable()
      assert(spark.table("assembled").count() == 0)

      // batch 2: tx1 commits, tx2 still open
      input.addData(rec(20, "tx1", Ops.Commit))
      q.processAllAvailable()
      val afterCommit = spark.table("assembled").as[EmittedChange].collect()
      assert(afterCommit.map(c => (c.xid, c.scn, c.commitScn)).toSeq ==
        Seq(("tx1", 10L, 20L)))

      // batch 3: tx2 adds another change then rolls back → still only tx1
      input.addData(
        rec(12, "tx2", Ops.Update, "r2", Map("c" -> "3")),
        rec(21, "tx2", Ops.Rollback))
      q.processAllAvailable()
      assert(spark.table("assembled").count() == 1)
    } finally q.stop()
  }

  test("randomized fuzz: streaming assembly ≡ batch assembly under random batch slicing") {
    // the invariant everything downstream rests on: HOW the redo stream
    // is sliced into micro-batches must never change what is emitted.
    // 10 interleaved transactions (random op mixes, ~20% rollback
    // terminals, clustered SCNs) are sliced at random points — including
    // mid-transaction, the case example tests pin one at a time — and
    // the streaming output must equal the one-shot batch assembly of
    // the same record sequence, for every slicing.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(1234)
    val txns = (0 until 10).map { t =>
      val xid = s"fz$t"
      val base = 100L * t
      val n = 1 + rnd.nextInt(6)
      val body = (0 until n).map { i =>
        val op = rnd.nextInt(3) match {
          case 0 => Ops.Insert
          case 1 => Ops.Delete
          case _ => Ops.Update
        }
        RedoRecord(base + i, i, xid, op, s"T${t % 3}", s"r$t-$i",
          rollback = false, (base + i) * 1000,
          Map("k" -> s"b$t-$i"), Map("k" -> s"a$t-$i"))
      }
      val terminal = if (rnd.nextInt(5) == 0) Ops.Rollback else Ops.Commit
      body :+ RedoRecord(base + n, 0, xid, terminal, "", "",
        rollback = false, 0, Map.empty, Map.empty)
    }
    // interleave txns round-robin-ish but keep per-xid order (the
    // source contract), then slice contiguously at random points
    val interleaved = rnd.shuffle(
      txns.zipWithIndex.flatMap { case (rs, t) =>
        rs.zipWithIndex.map { case (r, i) => (r, t, i) }
      }).sortBy { case (_, t, i) => (i, t) }.map(_._1)
    val expected = ChangeStreams
      .assembleBatch(interleaved.toDS())
      .collect().map(c => (c.xid, c.scn, c.op, c.before, c.after))
      .sortBy(c => (c._1, c._2))

    (0 until 3).foreach { trial =>
      val cuts = (1 until interleaved.size)
        .filter(_ => rnd.nextInt(4) == 0).toList
      val batches = (List(0) ++ cuts ++ List(interleaved.size))
        .sliding(2).map { case List(a, b) => interleaved.slice(a, b) }
        .filter(_.nonEmpty).toSeq
      val input = MemoryStream[RedoRecord]
      val q = ChangeStreams.assembleStream(input.toDS())
        .writeStream.format("memory").queryName(s"asm_fuzz_$trial")
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        val got = spark.table(s"asm_fuzz_$trial").as[EmittedChange]
          .collect().map(c => (c.xid, c.scn, c.op, c.before, c.after))
          .sortBy(c => (c._1, c._2))
        assert(got.toSeq == expected.toSeq,
          s"slicing at $cuts changed the emitted stream")
      } finally q.stop()
    }
  }

  test("xid reuse: records past a COMMIT start a NEW transaction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RedoRecord]
    val q = ChangeStreams.assembleStream(input.toDS())
      .writeStream.format("memory").queryName("assembled3")
      .outputMode("append").start()
    try {
      // ONE micro-batch: txn A commits at scn 11; the same xid is then
      // reused (scn 20) and ROLLED BACK at scn 21. The committed change
      // must emit; the reused-xid change must not; the rollback must not
      // retroactively discard the committed transaction.
      input.addData(
        rec(10, "tx1", Ops.Insert, "r1", Map("c" -> "1")),
        rec(11, "tx1", Ops.Commit),
        rec(20, "tx1", Ops.Insert, "r2", Map("c" -> "2")),
        rec(21, "tx1", Ops.Rollback))
      q.processAllAvailable()
      val out = spark.table("assembled3").as[EmittedChange].collect()
      assert(out.map(c => (c.rowId, c.commitScn)).toSeq === Seq(("r1", 11L)))

      // reuse again, with the new transaction spanning into a later batch
      input.addData(rec(30, "tx1", Ops.Insert, "r3", Map("c" -> "3")))
      q.processAllAvailable()
      assert(spark.table("assembled3").count() === 1) // still open
      input.addData(rec(31, "tx1", Ops.Commit))
      q.processAllAvailable()
      val out2 = spark.table("assembled3").as[EmittedChange].collect()
      assert(out2.map(c => (c.rowId, c.commitScn)).toSet ===
        Set(("r1", 11L), ("r3", 31L)))
    } finally q.stop()
  }

  test("partial rollback resolved at commit across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RedoRecord]
    val q = ChangeStreams.assembleStream(input.toDS())
      .writeStream.format("memory").queryName("assembled2")
      .outputMode("append").start()
    try {
      input.addData(
        rec(10, "tx1", Ops.Insert, "rA", Map("c" -> "1")),
        rec(11, "tx1", Ops.Insert, "rB", Map("c" -> "2")))
      q.processAllAvailable()
      input.addData(
        RedoRecord(12, 0, "tx1", Ops.Delete, "T", "rB", rollback = true,
          0, Map.empty, Map.empty),
        rec(20, "tx1", Ops.Commit))
      q.processAllAvailable()
      val out = spark.table("assembled2").as[EmittedChange].collect()
      assert(out.map(_.rowId).toSeq == Seq("rA"))
    } finally q.stop()
  }

  test("one large transaction accumulated over many micro-batches") {
    // the append-only state path: 40 batches × 25 statements buffer
    // without a terminal, then a single COMMIT releases all 1000 changes
    // in (scn, ssn) order with the commit SCN stamped
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RedoRecord]
    val q = ChangeStreams.assembleStream(input.toDS())
      .writeStream.format("memory").queryName("assembled_big")
      .outputMode("append").start()
    try {
      (0 until 40).foreach { b =>
        // descending scn within each batch: assembly must sort, not
        // trust arrival order
        input.addData((24 to 0 by -1).map { i =>
          val n = b * 25 + i
          rec(1000L + n, "big", Ops.Insert, s"r$n", Map("c" -> n.toString))
        }: _*)
        q.processAllAvailable()
        assert(spark.table("assembled_big").count() == 0)
      }
      input.addData(rec(5000, "big", Ops.Commit))
      q.processAllAvailable()
      val out = spark.table("assembled_big").as[EmittedChange].collect()
      assert(out.length == 1000)
      assert(out.forall(_.commitScn == 5000L))
      assert(out.map(_.scn).sorted.toSeq == (0 until 1000).map(1000L + _))
      // a second transaction on the reused xid still works after the big one
      input.addData(
        rec(6000, "big", Ops.Insert, "rx", Map("c" -> "x")),
        rec(6001, "big", Ops.Commit))
      q.processAllAvailable()
      assert(spark.table("assembled_big").count() == 1001)
    } finally q.stop()
  }

  test("idle timer drops an abandoned transaction; later commit finds nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RedoRecord]
    // NOTE: with ProcessingTime timers the engine runs continuous
    // micro-batches, so processAllAvailable would never return — this
    // test polls the memory sink with a sentinel transaction instead
    val q = ChangeStreams.assembleStream(input.toDS(), idleTimeoutMs = 800L)
      .writeStream.format("memory").queryName("assembled_idle")
      .outputMode("append").start()
    try {
      // an open transaction whose terminal record is "lost"
      input.addData(rec(10, "txLost", Ops.Insert, "r1", Map("c" -> "1")))
      // the timer only exists once the INSERT's batch has run — under
      // heavy load the first batch can lag, and sleeping before it runs
      // would let the stale commit below land in the SAME batch as the
      // insert (no expiry, flaky failure). Wait for the batch first.
      val d0 = System.currentTimeMillis() + 60000
      while (q.recentProgress.map(_.numInputRows).sum < 1 &&
        System.currentTimeMillis() < d0) Thread.sleep(100)
      // generous margin over the 800 ms deadline: batch scheduling on a
      // loaded host must not outlive the sleep or the commit below races
      // the timer (expiry is not externally observable to poll on)
      Thread.sleep(8000)
      // the stale commit arrives AFTER expiry, followed by a sentinel txn
      input.addData(
        rec(40, "txLost", Ops.Commit),
        rec(50, "txSent", Ops.Insert, "r2", Map("c" -> "2")),
        rec(51, "txSent", Ops.Commit))
      val deadline = System.currentTimeMillis() + 60000
      def rows() = spark.table("assembled_idle").as[EmittedChange].collect()
      while (!rows().exists(_.xid == "txSent") &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      val got = rows()
      assert(got.exists(_.xid == "txSent"), "sentinel transaction must emit")
      assert(!got.exists(_.xid == "txLost"),
        s"expired transaction must not emit, got ${got.toSeq}")
    } finally q.stop()
  }

  test("late tail after idle eviction is dropped whole, never emitted " +
      "as a partial transaction; the key recovers afterwards") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RedoRecord]
    val q = ChangeStreams.assembleStream(input.toDS(), idleTimeoutMs = 800L)
      .writeStream.format("memory").queryName("assembled_evict")
      .outputMode("append").start()
    try {
      // prefix of txn D buffers, then the feed stalls past the idle window
      input.addData(
        rec(10, "txD", Ops.Insert, "r1", Map("c" -> "1")),
        rec(11, "txD", Ops.Insert, "r2", Map("c" -> "2")))
      val d0 = System.currentTimeMillis() + 60000
      while (q.recentProgress.map(_.numInputRows).sum < 2 &&
        System.currentTimeMillis() < d0) Thread.sleep(100)
      Thread.sleep(8000) // expiry fires; prefix evicted, tombstone set
      // the DELAYED tail + commit arrive: the r13 behavior assembled
      // them into a 1-row "transaction" missing its first two changes —
      // the tombstone must drop the whole segment instead
      input.addData(
        rec(12, "txD", Ops.Insert, "r3", Map("c" -> "3")),
        rec(13, "txD", Ops.Commit),
        // and the key is immediately reusable for a real transaction
        rec(20, "txD", Ops.Insert, "r4", Map("c" -> "4")),
        rec(21, "txD", Ops.Commit))
      def rows() = spark.table("assembled_evict").as[EmittedChange].collect()
      val deadline = System.currentTimeMillis() + 60000
      while (!rows().exists(_.scn == 20L) &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      val got = rows()
      assert(got.exists(_.scn == 20L),
        s"post-eviction transaction must emit: ${got.toSeq}")
      assert(!got.exists(_.scn <= 13L),
        s"evicted transaction's tail must not partially emit: ${got.toSeq}")
    } finally q.stop()
  }

  test("eviction tombstone EXPIRES after its TTL: a much-later " +
      "transaction on the recycled xid assembles fully, not clipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RedoRecord]
    // short tombstone horizon so the test can outlive it: the r14
    // tombstone lived FOREVER, so a source reusing xid strings had its
    // next transaction's first segment silently discarded no matter how
    // much later it arrived (and state grew one row per abandoned xid,
    // unbounded) — the TTL bounds both
    val q = ChangeStreams.assembleStream(input.toDS(),
        idleTimeoutMs = 800L, tombstoneTtlMs = 1500L)
      .writeStream.format("memory").queryName("assembled_ttl")
      .outputMode("append").start()
    try {
      input.addData(rec(10, "txR", Ops.Insert, "r1", Map("c" -> "1")))
      val d0 = System.currentTimeMillis() + 60000
      while (q.recentProgress.map(_.numInputRows).sum < 1 &&
        System.currentTimeMillis() < d0) Thread.sleep(100)
      // evict (~0.8 s) then let the tombstone's 1.5 s TTL lapse too
      Thread.sleep(8000)
      // a NEW transaction on the recycled xid, complete with terminal:
      // with the tombstone expired it must assemble WHOLE — under the
      // tombstone-forever behavior its first segment was dropped
      input.addData(
        rec(20, "txR", Ops.Insert, "r2", Map("c" -> "2")),
        rec(21, "txR", Ops.Insert, "r3", Map("c" -> "3")),
        rec(22, "txR", Ops.Commit))
      def rows() = spark.table("assembled_ttl").as[EmittedChange].collect()
      val deadline = System.currentTimeMillis() + 60000
      while (!rows().exists(_.scn == 20L) &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      val got = rows()
      assert(got.map(_.scn).sorted.toSeq == Seq(20L, 21L),
        s"post-TTL transaction must assemble fully: ${got.toSeq}")
      assert(got.forall(_.commitScn == 22L))
      assert(!got.exists(_.scn == 10L),
        s"the evicted prefix itself must stay dropped: ${got.toSeq}")
    } finally q.stop()
  }

  test("batch assembly splits a reused xid at each terminal") {
    import spark.implicits._
    // txn1 commits at 20; the SAME xid is reused and rolled back at 40.
    // The rollback must not retroactively discard txn1, and txn2's
    // partial-rollback-style reuse must not cancel across the boundary.
    val recs = Seq(
      rec(10, "tx1", Ops.Insert, "r1", Map("c" -> "1")),
      rec(20, "tx1", Ops.Commit),
      rec(30, "tx1", Ops.Insert, "r2", Map("c" -> "2")),
      rec(40, "tx1", Ops.Rollback),
      // third reuse: commits again with its own commitScn
      rec(50, "tx1", Ops.Insert, "r3", Map("c" -> "3")),
      rec(60, "tx1", Ops.Commit)).toDS()
    val out = ChangeStreams.assembleBatch(recs).collect().sortBy(_.scn)
    assert(out.map(_.scn).toSeq == Seq(10, 50))
    assert(out.map(_.commitScn).toSeq == Seq(20, 60))
  }

  test("assembleStream rejects an idle or tombstone window it would " +
      "ignore or replace, naming the argument") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val records = MemoryStream[RedoRecord].toDS()
    def rejected(idleTimeoutMs: Long, tombstoneTtlMs: Long) =
      intercept[IllegalArgumentException] {
        ChangeStreams.assembleStream(records, idleTimeoutMs = idleTimeoutMs,
          tombstoneTtlMs = tombstoneTtlMs)
      }.getMessage
    // negative: today it means no eviction / 64 idle windows
    assert(rejected(-1L, 0L).contains("idleTimeoutMs"))
    assert(rejected(1000L, -1L).contains("tombstoneTtlMs"))
    // a tombstone TTL without idle eviction: no tombstone ever exists
    val noIdle = rejected(0L, 5000L)
    assert(noIdle.contains("tombstoneTtlMs") && noIdle.contains("idleTimeoutMs"))
  }
}
