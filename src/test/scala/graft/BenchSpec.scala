package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.isStale]] — the stale-scratch sweep's decision. */
class BenchSpec extends AnyFunSuite {
  private val min = 60L * 1000
  private val now = 1000L * min

  test("isStale: scratch is stale only when the dir AND its children are old") {
    assert(Bench.isStale(Seq(now - 40 * min, now - 35 * min), now, 30 * min))
    // an old top-level dir with a freshly written child belongs to a live run
    assert(!Bench.isStale(Seq(now - 40 * min, now - 1 * min), now, 30 * min))
    assert(!Bench.isStale(Seq(now - 5 * min), now, 30 * min))
    assert(!Bench.isStale(Nil, now, 30 * min))
  }
}
