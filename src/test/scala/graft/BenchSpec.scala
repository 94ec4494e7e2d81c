package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("SPARK_GRAFT_SKIP_BLOCKS parses known keys and rejects unknown ones") {
    assert(Bench.parseSkipBlocks(None).isEmpty)
    assert(Bench.parseSkipBlocks(Some("")).isEmpty)
    assert(Bench.parseSkipBlocks(Some(" vector, tail_attribution,")) ==
      Set("vector", "tail_attribution"))
    assert(Bench.parseSkipBlocks(Some(Bench.BlockKeys.mkString(","))) == Bench.BlockKeys)
    val e = intercept[IllegalArgumentException](
      Bench.parseSkipBlocks(Some("vector,no_such_block")))
    assert(e.getMessage.contains("no_such_block"))
  }
}
