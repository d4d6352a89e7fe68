package graft.redo

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Ops, RedoRecord}

/** Corruption fuzz for the GRL1 reader — the property a CDC pipeline
  * lives on: a damaged log may FAIL LOUDLY (checksum / magic / parse
  * error) or be provably untouched where the damage landed in ignored
  * padding, but it must NEVER silently decode to a different record
  * stream. Every u16 of every block participates in the XOR checksum
  * (header fields included, the checksum slot zeroed), so any bit flip
  * in block data is detectable by construction; this suite checks the
  * implementation actually delivers that, including flips landing in
  * the file header, block headers, the checksum field itself, record
  * length prefixes, and payload tails. Reference analogue: the block
  * checksum handling in the redo reader (`OraCdcRedoLog.java:785-817`).
  */
class RedoCorruptionProps extends AnyFunSuite {

  private def rec(scn: Long, i: Int): RedoRecord =
    RedoRecord(scn, 0, s"tx${i % 3}", Ops.Insert, "T.TAB", scn.toString,
      rollback = false, scn * 1000, Map.empty,
      Map("k" -> ("payload" * (1 + i % 7) + i), "n" -> i.toString), Nil)

  test("600 random bit flips: every read throws or returns the pristine stream") {
    val dir = graft.SharedSpark.tempDir("grl-fuzz").toFile
    val f = new File(dir, "log_1.grl")
    val w = new RedoLogWriter(f, blockSize = 512, seq = 1, thread = 0)
    val records = (1 to 80).map(i => rec(i.toLong, i))
    records.foreach(w.append)
    w.close()
    val pristine = Files.readAllBytes(f.toPath)
    val baseline = RedoLogReader.records(f).toSeq
    assert(baseline === records)

    val rnd = new scala.util.Random(0xBADB10C5L)
    var threw = 0
    var benign = 0
    (1 to 600).foreach { trial =>
      val pos = rnd.nextInt(pristine.length)
      val bit = 1 << rnd.nextInt(8)
      val mutated = pristine.clone()
      mutated(pos) = (mutated(pos) ^ bit).toByte
      Files.write(f.toPath, mutated)
      val outcome =
        try Right(RedoLogReader.records(f).toSeq)
        catch { case e: Exception => Left(e) }
      outcome match {
        case Left(_) => threw += 1
        case Right(got) =>
          assert(got === baseline,
            s"trial $trial: flip at byte $pos bit $bit SILENTLY changed " +
              s"the decoded stream — the failure mode a CDC reader must not have")
          benign += 1
      }
    }
    info(s"flips detected loudly: $threw, benign (ignored padding): $benign")
    // the checksummed format must catch the overwhelming majority; a
    // benign flip is only legitimate in file-header padding / file tail
    assert(threw > 500, s"only $threw/600 flips detected")
  }
}
