package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_CPUS parsing for the shared entry-point session. */
class SessionsSpec extends AnyFunSuite {

  test("core count defaults to 4 and accepts a padded integer") {
    assert(Sessions.parseCpus(None) == 4)
    assert(Sessions.parseCpus(Some("8")) == 8)
    assert(Sessions.parseCpus(Some(" 8 ")) == 8)
  }

  test("a non-integer or non-positive core count names the variable") {
    for (bad <- Seq("abc", "", "*", "0", "-2", "2.5")) {
      val e = intercept[IllegalArgumentException](Sessions.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$bad'"), bad)
    }
  }
}
