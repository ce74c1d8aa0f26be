package graft

import graft.core.Session
import org.scalatest.funsuite.AnyFunSuite

/** The session core count is a pure function of the environment lookup
  * ([[Session.coresFrom]]), so it is pinned without a Spark session, the
  * way VerifyExitSpec pins Verify's exit status.
  */
class SessionCoresSpec extends AnyFunSuite {

  private def env(pairs: (String, String)*): String => Option[String] =
    pairs.toMap.get _

  test("SPARK_GRAFT_CPUS sets the core count, trimmed; unset means 32") {
    assert(Session.coresFrom(env()) == 32)
    assert(Session.coresFrom(env("SPARK_GRAFT_CPUS" -> " 4 ")) == 4)
  }

  test("a malformed SPARK_GRAFT_CPUS fails naming the variable and the value") {
    for (bad <- Seq("four", "", "4.5", "0", "-2", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        Session.coresFrom(env("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage == s"SPARK_GRAFT_CPUS must be a positive int, got '$bad'")
    }
  }
}
