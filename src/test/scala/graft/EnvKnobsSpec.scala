package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.operators.TextOps

/** The integer env knobs parse with a clear error naming the knob. */
class EnvKnobsSpec extends AnyFunSuite {
  private def rejects(parse: => Long, knob: String, bad: String): Unit = {
    val e = intercept[IllegalArgumentException](parse)
    assert(e.getMessage.contains(knob) && e.getMessage.contains(s"'$bad'"), e.getMessage)
  }

  test("SPARK_GRAFT_CPUS: a positive count, the processor count when unset") {
    val procs = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.cpus(None) == procs)
    assert(GraftSession.cpus(Some("  ")) == procs)
    assert(GraftSession.cpus(Some("3")) == 3)
    assert(GraftSession.cpus(Some(" 8 ")) == 8)
    Seq("0", "-2", "four", "2.5", "99999999999").foreach(v =>
      rejects(GraftSession.cpus(Some(v)).toLong, "SPARK_GRAFT_CPUS", v))
  }

  test("SPARK_GRAFT_MAX_DRIVER_VOCAB: a non-negative count, 1M when unset") {
    assert(TextOps.maxDriverVocab(None) == 1000000L)
    assert(TextOps.maxDriverVocab(Some("0")) == 0L)
    assert(TextOps.maxDriverVocab(Some("5000000000")) == 5000000000L)
    Seq("-1", "lots", "1e6").foreach(v =>
      rejects(TextOps.maxDriverVocab(Some(v)), "SPARK_GRAFT_MAX_DRIVER_VOCAB", v))
  }
}
