package graft

import graft.core.Gate
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {

  private def units(t: String) = Gate.textUnits(UTF8String.fromString(t))

  test("textUnits: tokens or an eighth of the UTF-8 bytes, whichever is more") {
    assert(units("é" * 800 + " a b c") == 201L) // 4 tokens, 1606 bytes
    assert(units("a b  c") == 4L)
    assert(units("𝔸" * 4) == 2L) // 16 bytes, 1 token
    assert(units("") == 1L)
  }
}
