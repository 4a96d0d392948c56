package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` parsing: the raw value is passed in, so no test
  * touches the process environment.
  */
class SessionsSpec extends AnyFunSuite {

  test("cpus: a positive integer is the core count; unset gives the caller's default") {
    assert(Sessions.cpus(Some("8"), 32) == 8)
    assert(Sessions.cpus(None, 32) == 32)
    assert(Sessions.cpus(None, 4) == 4)
  }

  test("cpus: a non-integer or non-positive value fails naming the variable") {
    for (bad <- Seq("abc", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](Sessions.cpus(Some(bad), 32))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
