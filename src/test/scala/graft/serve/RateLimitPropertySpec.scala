package graft.serve

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties for the token bucket (server.go:307 playback
  * rate semantics): under ANY sequence of acquire attempts and clock
  * advances, the playback form never goes negative, never over-grants,
  * and never exceeds rate × elapsed + burst.
  */
class RateLimitPropertySpec extends AnyFunSuite {

  private def run(prop: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(r.passed, r.status.toString)
  }

  test("∀ schedules: playback grants ≤ requested, ≤ budget, never negative") {
    val gen = for {
      rate <- Gen.choose(1, 10000)
      burst <- Gen.choose(1L, 10000L)
      steps <- Gen.listOfN(40, for {
        dtUs <- Gen.choose(0L, 2000000L)
        n <- Gen.choose(0L, 20000L)
      } yield (dtUs, n))
    } yield (rate.toDouble, burst, steps)

    run(Prop.forAllNoShrink(gen) { case (rate, burst, steps) =>
      var clock = 0L
      val tb = new TokenBucket(rate, burst, () => clock)
      var granted = 0L
      var ok = true
      steps.foreach { case (dtUs, n) =>
        clock += dtUs
        val g = tb.acquireUpTo(n)
        ok &&= g >= 0 && g <= n
        granted += g
      }
      ok && granted <= rate * (clock / 1e6) + burst + 1e-6
    })
  }
}
