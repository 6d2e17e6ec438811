package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a bench run is contended above a quarter-core start loadavg") {
    assert(Bench.contended(7.9, 4))
    assert(!Bench.contended(7.9, 32))
    assert(Bench.contended(8.1, 32))
  }
}
