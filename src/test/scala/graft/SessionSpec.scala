package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset falls back to the JVM's cores, a count is taken as is") {
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Session.parseCpus(Some("6")) == 6)
  }

  test("SPARK_GRAFT_CPUS: a non-numeric or zero value fails naming the variable") {
    for (bad <- Seq("auto", "0")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
