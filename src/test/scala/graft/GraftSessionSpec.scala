package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one validated reader behind SPARK_GRAFT_CPUS, _SHUFFLE and
  * _EXPLODE_WIDTH: unset gives the default, anything but a positive
  * integer fails loudly naming the variable and the value.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("positive env reader: default when unset, rejects 0, -3 and abc") {
    assert(GraftSession.positive("SPARK_GRAFT_X", None, 7) === 7)
    assert(GraftSession.positive("SPARK_GRAFT_X", Some("12"), 7) === 12)
    // a set value never evaluates the default (Width's sizing count)
    assert(GraftSession.positive("SPARK_GRAFT_X", Some("3"),
      fail("default evaluated")) === 3)
    Seq("0", "-3", "abc").foreach { raw =>
      val e = intercept[IllegalArgumentException](
        GraftSession.positive("SPARK_GRAFT_X", Some(raw), 7))
      assert(e.getMessage.contains("SPARK_GRAFT_X"), e.getMessage)
      assert(e.getMessage.contains(s"'$raw'"), e.getMessage)
    }
  }
}
