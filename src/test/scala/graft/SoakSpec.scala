package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Soak`'s command line: a soak too short for its own schedule
  * is refused up front, naming the minimum, instead of running for
  * minutes and ending FAIL.
  */
class SoakSpec extends AnyFunSuite {

  test("a soak shorter than its schedule allows is refused with the minimum named") {
    assert(Soak.MinMinutes == 3) // one 15 s tick past the late join at +150 s
    val short = Soak.parseArgs(Array("2", "2000"))
    assert(short.isLeft)
    assert(short.left.exists(_.contains(s"minutes >= ${Soak.MinMinutes}")), short)
    assert(Soak.parseArgs(Array("x")).isLeft, "a malformed number is refused too")
    val ok = Soak.parseArgs(Array("3", "2000", "500", "multi"))
    assert(ok == Right(Soak.Settings(3, 2000, 500L, multiEdge = true,
      manifestMode = false, frameBatch = 1)))
    assert(Soak.parseArgs(Array.empty).map(_.minutes) == Right(10))
  }
}
