package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's failure record: a query that throws is named in the JSON
  * line's `"failed"` field instead of passing as a fast success. */
class BenchSpec extends AnyFunSuite {
  test("a throwing query is recorded under its key; fatal errors propagate") {
    val f = new Bench.Failures
    assert(f.field == ",\"failed\":[]")
    f.attempt("q01_ok")(())
    f.attempt("q07_boom")(throw new IllegalStateException("boom"))
    f.attempt("q07_boom")(throw new IllegalStateException("again"))
    f.attempt("q12_bad")(throw new RuntimeException("bad"))
    assert(f.field == ",\"failed\":[\"q07\",\"q12\"]")
    intercept[OutOfMemoryError](f.attempt("q13_oom")(throw new OutOfMemoryError("synthetic")))
    intercept[InterruptedException](f.attempt("q14_int")(throw new InterruptedException()))
    assert(f.field == ",\"failed\":[\"q07\",\"q12\"]")
  }
}
