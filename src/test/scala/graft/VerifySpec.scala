package graft

import org.scalatest.funsuite.AnyFunSuite

/** The verify main's environment parsing (no Spark session). */
class VerifySpec extends AnyFunSuite {
  test("SPARK_GRAFT_VERIFY_PAR: integers are used, anything else falls back to 4") {
    assert(Verify.parallelism(None) == 4)
    assert(Verify.parallelism(Some("8")) == 8)
    assert(Verify.parallelism(Some(" 2 ")) == 2)
    assert(Verify.parallelism(Some("0")) == 1)
    assert(Verify.parallelism(Some("-3")) == 1)
    for (bad <- Seq("", "four", "4.5", "99999999999")) assert(Verify.parallelism(Some(bad)) == 4, bad)
  }
}
