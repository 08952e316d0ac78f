package graft.io.serving

import org.scalatest.funsuite.AnyFunSuite

class DistributedServingSuite extends AnyFunSuite {

  test("MachineOffset round-trips through json") {
    val o = MachineOffset(Map("aaaa-bb" -> 7L, "cccc-dd" -> 0L))
    assert(MachineOffset.fromJson(o.json()) == o)
  }
}
