package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class LoopWidthSpec extends AnyFunSuite {
  test("GRAFT_LOOP_ROWS_PER_TASK: unset or malformed values fall back to 250k") {
    assert(LoopWidth.rowsPerTask(None) == 250000L)
    assert(LoopWidth.rowsPerTask(Some("100000")) == 100000L)
    assert(LoopWidth.rowsPerTask(Some(" 2000000 ")) == 2000000L)
    for (bad <- Seq("", "abc", "1e5", "0", "-5", "99999999999999999999"))
      assert(LoopWidth.rowsPerTask(Some(bad)) == 250000L, s"'$bad'")
  }
}
