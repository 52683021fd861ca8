package graft

import org.scalatest.funsuite.AnyFunSuite

/** The graft.Bench retry pass's edge configs, without running a bench. */
class BenchHarnessSpec extends AnyFunSuite {

  test("probe floor: min leg probe clamped at 20 ms; every leg skipped still yields a floor") {
    assert(Bench.probeFloor(Seq(140L, 95L, 210L)) == 95L)
    assert(Bench.probeFloor(Seq(7L, 300L)) == 20L)
    assert(Bench.probeFloor(Nil) == 20L)
  }

  test("retry order: legs tagged mutates retry last, leg order otherwise") {
    val legs = Seq("insert", "read", "compaction", "insert_super", "read_super", "inserted_view")
    assert(Bench.retryOrder(legs, Set("insert", "insert_super")) ==
      Seq("read", "compaction", "read_super", "inserted_view", "insert", "insert_super"))
    assert(Bench.retryOrder(legs, Set.empty) == legs)
  }
}
