package graft

import org.scalatest.funsuite.AnyFunSuite

/** The positive-int knob parser behind SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_PASSES, SPARK_GRAFT_SWEEP_PASSES and
  * SPARK_GRAFT_STREAM_STATE_PARTITIONS: unset means "use the default",
  * a malformed value fails fast and names the knob. */
class KnobSpec extends AnyFunSuite {

  private val knob = "SPARK_GRAFT_TEST_KNOB"

  test("unset knob parses to None") {
    assert(GraftSession.positiveInt(knob, None).isEmpty)
  }

  test("positive values parse, surrounding blanks allowed") {
    assert(GraftSession.positiveInt(knob, Some("8")).contains(8))
    assert(GraftSession.positiveInt(knob, Some(" 8 ")).contains(8))
  }

  test("zero, negative and non-numeric values fail fast naming the knob and the value") {
    Seq("0", "-2", "abc", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.positiveInt(knob, Some(bad)))
      assert(e.getMessage.contains(knob), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
