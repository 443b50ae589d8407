package graft

import org.scalatest.funsuite.AnyFunSuite

/** The worker-thread count behind SparkEntry.session, resolved as a pure
  * function of SPARK_GRAFT_CPUS so no second SparkSession starts.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("cpus: unset gives the host's core count, a positive integer is taken") {
    assert(SparkEntry.cpus(None) == Runtime.getRuntime.availableProcessors())
    assert(SparkEntry.cpus(Some("8")) == 8)
  }

  test("cpus: zero, negative and non-integer values fail naming the variable") {
    Seq("0", "-2", "x").foreach { v =>
      val e = intercept[IllegalArgumentException](SparkEntry.cpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }
}
