package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("local() takes SPARK_GRAFT_CPUS when set, else the host's processor count") {
    assert(GraftSession.localCpus(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(GraftSession.localCpus(Map.empty) === Runtime.getRuntime.availableProcessors)
  }
}
