package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a query that throws is reported failed on the JSON line, not as a " +
    "clean run; the driver's keys stay as they were") {
    val (_, thrown) = Bench.sample("q_throw")(throw new IllegalStateException("boom"))
    assert(thrown, "a throwing query must be reported failed")
    val (secs, failed) = Bench.sample("q_ok")(42L)
    assert(!failed && secs >= 0.0)
    // fatal errors are not a query's failure: they end the bench
    intercept[OutOfMemoryError](
      Bench.sample("q_fatal")(throw new OutOfMemoryError("fatal")))
    assert(Bench.jsonLine(Seq(("q_ok", 1.0, false), ("q_throw", 2.0, true)),
        "sf0.1") ==
      """{"metric":"total","value":3.0,"unit":"sec",""" +
      """"queries":{"q_ok":1.0,"q_throw":2.0},"failed":["q_throw"],"sf":"sf0.1"}""")
    assert(Bench.jsonLine(Seq(("q_ok", 1.0, false)), "sf").contains(""""failed":[]"""))
  }
}
