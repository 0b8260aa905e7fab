package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a failed entry records the exception class and first message line, ASCII-only, capped") {
    assert(Bench.describeFailure("q1", new IllegalStateException("bad input\nstack detail")) ==
      "q1: java.lang.IllegalStateException: bad input")
    assert(Bench.describeFailure("q2", new RuntimeException(null: String)) ==
      "q2: java.lang.RuntimeException: ")
    val long = Bench.describeFailure("q3", new RuntimeException("x — é" + "y" * 500))
    assert(long.length == 300)
    assert(long.startsWith("q3: java.lang.RuntimeException: x ? ?yyy"))
    assert(long.forall(c => c >= ' ' && c <= '~'))
  }
}
