package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("each stdout rung checks uniqueness over the keys it emits") {
    val names = Seq("q102_edit_join", "q17b_variant", "102")
    assert(Bench.rungKeys(names, bareQ = false) == Some(Seq("q102", "q17b", "102")))
    // stripping the 'q' makes q102's key collide with the literal "102"
    assert(Bench.rungKeys(names, bareQ = true).isEmpty)
    assert(Bench.rungKeys(Seq("q1_a", "q1_b"), bareQ = false).isEmpty)
    assert(Bench.rungKeys(Seq("q01_a", "q1_b"), bareQ = true) == Some(Seq("01", "1")))
  }
}
