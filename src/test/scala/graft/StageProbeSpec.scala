package graft

import org.scalatest.funsuite.AnyFunSuite

class StageProbeSpec extends AnyFunSuite {

  test("probe conf parses k=v entries and names an entry without '='") {
    assert(StageProbe.parseConf("a.b=1,c=x=y") === Map("a.b" -> "1", "c" -> "x=y"))
    val e = intercept[IllegalArgumentException](StageProbe.parseConf("a=1,oops"))
    assert(e.getMessage.contains("'oops'"))
  }
}
