package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("every headline query resolves in the registry") {
    assert(Bench.missingHeadline.isEmpty)
  }
}
