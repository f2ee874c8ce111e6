package graft

import org.scalatest.funsuite.AnyFunSuite

/** The knob parser behind SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_PASSES,
  * SPARK_GRAFT_SWEEP_PASSES, SPARK_GRAFT_STREAM_STATE_PARTITIONS, the
  * pipeline's env (`EngineConf.fromEnv`) and GRAFT_PROGRESS_EVERY: unset
  * means "use the default", a malformed value fails fast and names the
  * knob. */
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

  private def failsNaming(name: String, bad: String)(parse: => Any): Unit = {
    val e = intercept[IllegalArgumentException](parse)
    assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
  }

  test("long variants: positive, non-negative and any long") {
    assert(GraftSession.positiveLong(knob, Some(" 10000000000 ")).contains(10000000000L))
    assert(GraftSession.nonNegativeLong(knob, Some("0")).contains(0L))
    assert(GraftSession.long(knob, Some("-7")).contains(-7L))
    Seq("0", "-1", "1e3", "").foreach(bad => failsNaming(knob, bad)(GraftSession.positiveLong(knob, Some(bad))))
    Seq("-1", "x").foreach(bad => failsNaming(knob, bad)(GraftSession.nonNegativeLong(knob, Some(bad))))
    Seq("4.5", "9223372036854775808").foreach(bad => failsNaming(knob, bad)(GraftSession.long(knob, Some(bad))))
  }

  test("pipeline env: warm-up may be 0, the seed any long; malformed numbers name their variable") {
    val ok = graft.model.EngineConf.fromEnv(Map(
      "TOTAL_MENSAGENS" -> " 2000 ", "WARMUP_MENSAGENS" -> "0", "GRAFT_SEED" -> "-3"))
    assert(ok.totalMensagens == 2000 && ok.warmupMensagens == 0 && ok.seed == -3)
    Seq("TOTAL_MENSAGENS" -> "10k", "TOTAL_MENSAGENS" -> "0", "TAMANHO_MENSAGEM_KB" -> "1.5",
      "NUM_PARTICOES" -> "0", "CONSUMER_THREADS" -> "-4", "WARMUP_MENSAGENS" -> "-1",
      "GRAFT_SEED" -> "abc").foreach { case (k, bad) =>
      failsNaming(k, bad)(graft.model.EngineConf.fromEnv(Map(k -> bad)))
    }
  }

  test("GRAFT_PROGRESS_EVERY: default when unset, fails fast when not a positive long") {
    assert(Main.progressEvery(Map.empty) == graft.operators.ProgressTicker.IntervaloLog)
    assert(Main.progressEvery(Map("GRAFT_PROGRESS_EVERY" -> "500")) == 500L)
    Seq("0", "-5", "often").foreach(bad =>
      failsNaming("GRAFT_PROGRESS_EVERY", bad)(Main.progressEvery(Map("GRAFT_PROGRESS_EVERY" -> bad))))
  }
}
