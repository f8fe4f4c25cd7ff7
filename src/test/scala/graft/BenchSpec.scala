package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("sig3 rounds to 3 significant figures and passes non-finite medians through") {
    assert(Bench.sig3(1.23456) == 1.23)
    assert(Bench.sig3(0.00123456) == 0.00123)
    assert(Bench.sig3(98765.4) == 98800.0)
    assert(Bench.sig3(Double.NaN).isNaN)
    assert(Bench.sig3(Double.PositiveInfinity) == Double.PositiveInfinity)
    assert(Bench.sig3(Double.NegativeInfinity) == Double.NegativeInfinity)
  }
}
