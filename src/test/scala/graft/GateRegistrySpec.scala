package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Gate

/** The gate list itself, checked without a SparkSession: nothing here
  * runs a query, an oracle against data, or a prepare.
  */
class GateRegistrySpec extends AnyFunSuite {

  private val gates = SparkEntry.gates
  private val names = gates.map(_.name)

  test("every gate is listed once, under a unique name") {
    assert(gates.size === 154)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"gates listed twice: $dups")
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("every gate has a non-empty oracle") {
    val dir = "/data/sf1"
    val empty = gates.filter(_.oracle(dir).trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"gates without an oracle: $empty")
  }

  test("Bench's heavy tiers name only gates") {
    assert((Bench.heavy.toSet -- names).isEmpty)
    assert((Bench.soloHeavy -- names).isEmpty)
    assert(Bench.soloHeavy.subsetOf(Bench.heavy.toSet))
  }

  test("the gates that read an ingest artifact or memo prepare it") {
    val prepared = Set("pipe_curate", "pipe_full", "pipe_incr",
      "pipe_incr_idx", "retr_rrf", "emb_hardneg_idx", "q3_bucketed",
      "q5_bucketed", "q_bucket_prune", "mm_frames", "mm_scenecut")
    val byName = gates.map(g => g.name -> g).toMap
    val missing = prepared.filter(n => byName(n).prepare eq Gate.noPrepare)
    assert(missing.isEmpty, s"no prepare: $missing")
  }

  test("the oracle of a stored-artifact gate names its dataset's artifact") {
    val byName = gates.map(g => g.name -> g).toMap
    val a = byName("pipe_incr_idx").oracle("/data/sf1")
    val b = byName("pipe_incr_idx").oracle("/data/sf2")
    assert(a !== b)
    assert(operators.PipelineQueries.oracleSql("pipe_curate") ===
      byName("pipe_curate").oracle("/data/sf1"))
  }
}
