package graft

import org.scalatest.funsuite.AnyFunSuite

/** The verify and bench mains' environment parsing and run naming (no
  * Spark session). */
class VerifySpec extends AnyFunSuite {
  test("SPARK_GRAFT_VERIFY_PAR: integers are used, anything else falls back to 4") {
    assert(Verify.parallelism(None) == 4)
    assert(Verify.parallelism(Some("8")) == 8)
    assert(Verify.parallelism(Some(" 2 ")) == 2)
    assert(Verify.parallelism(Some("0")) == 1)
    assert(Verify.parallelism(Some("-3")) == 1)
    for (bad <- Seq("", "four", "4.5", "99999999999")) assert(Verify.parallelism(Some(bad)) == 4, bad)
  }

  test("SPARK_GRAFT_CPUS: integers are used, anything else falls back to 4") {
    assert(Verify.cpus(None) == 4)
    assert(Verify.cpus(Some("32")) == 32)
    assert(Verify.cpus(Some(" 8 ")) == 8)
    assert(Verify.cpus(Some("0")) == 1)
    for (bad <- Seq("", "eight", "8c", "2.0", "99999999999")) assert(Verify.cpus(Some(bad)) == 4, bad)
  }

  test("bench run id names the start, the cores and the process, so runs cannot share a file") {
    val t = java.time.Instant.parse("2026-10-17T16:04:05.9Z")
    assert(Bench.runId(8, t, 4242) == "20261017T160405Z-c8-p4242")
    assert(Bench.runId(32, t, 4242) != Bench.runId(8, t, 4242))
    assert(Bench.runId(8, t, 4243) != Bench.runId(8, t, 4242))
  }
}
