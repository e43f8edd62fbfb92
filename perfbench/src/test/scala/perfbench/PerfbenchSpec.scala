package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("percentile rule: the highest percentile with 10 samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    // 1000 samples: p99 has exactly 10 beyond it, so it is read as asked
    assert(Stats.pct(xs, 0.99) === 0.99 * 999 + 1)
    // 200 samples: p99 would have 2 beyond it, so p95 is read instead
    val ys = (1 to 200).map(_.toDouble)
    assert(Stats.pct(ys, 0.99) === Stats.pct(ys, 0.95))
    assert(Stats.pct(ys, 0.99) === 0.95 * 199 + 1)
    // 20 samples: even the median is clamped to the 10th-from-top point
    val zs = (1 to 20).map(_.toDouble)
    assert(Stats.pct(zs, 0.9) === Stats.pct(zs, 0.5))
    assert(Stats.median(zs) === 10.5)
    // 10 samples: no tail percentile qualifies, so a tail reads as the median
    val ws = (1 to 10).map(_.toDouble)
    assert(Stats.pct(ws, 0.99) === Stats.median(ws))
    assert(Stats.pct(Nil, 0.5).isNaN)
  }

  private val expected = Array(1L, 2L, 3L, 4L, 5L)
  private def times(n: Int) = Array.tabulate(n)(i => 100L + i)

  test("exactly-once check passes a clean stream") {
    assert(Check(expected, Array(1L, 2L, 3L, 4L, 5L), times(5)).failed === 0)
  }

  test("exactly-once check flags an injected duplicate") {
    val c = Check(expected, Array(1L, 2L, 3L, 3L, 4L, 5L), times(6))
    assert(c.duplicated === 1 && c.missing === 0 && c.failed === 1)
  }

  test("exactly-once check flags an injected gap") {
    val c = Check(expected, Array(1L, 2L, 4L, 5L), times(4))
    assert(c.missing === 1 && c.failed === 1)
  }

  test("exactly-once check flags an injected reorder") {
    val c = Check(expected, Array(1L, 3L, 2L, 4L, 5L), Array(100L, 102L, 101L, 103L, 104L))
    assert(c.disordered === 1 && c.missing === 0 && c.duplicated === 0 && c.failed === 1)
  }

  test("exactly-once check flags an event the filter does not admit") {
    assert(Check(expected, Array(1L, 2L, 3L, 4L, 5L, 9L), times(6)).unexpected === 1)
  }

  test("canonical forms (the same table is checked in tests/test_oracle.py)") {
    def c(v: Any) = { val sb = new java.lang.StringBuilder; Fingerprint.canon(v, sb); sb.toString }
    CanonCases.all.foreach { case (v, want) => assert(c(v) === want, s"for $v") }
  }

  test("fingerprints ignore row order and see every column") {
    val a = Seq(Row(1L, "x"), Row(2L, "y"))
    val fp = Fingerprint.of(Seq("k", "v"), a.iterator)
    assert(Fingerprint.of(Seq("k", "v"), a.reverse.iterator) === fp)
    assert(Fingerprint.of(Seq("k", "v"), Seq(Row(1L, "x"), Row(2L, "z")).iterator) !== fp)
    // column order does not matter: columns are taken by name
    assert(Fingerprint.of(Seq("v", "k"), a.map(r => Row(r(1), r(0))).iterator) === fp)
  }
}

/** Values and their canonical strings, mirrored in tests/test_oracle.py. */
object CanonCases {
  val all: Seq[(Any, String)] = Seq(
    (null, "n"), (true, "b1"), (7, "i7"), (-7L, "i-7"), (1.5, "f3ff8000000000000"),
    (0.1f, "f3fb99999a0000000"), (-0.0, "f0"), (Double.NaN, "fnan"),
    (new java.math.BigDecimal("1.20"), "d1.20"), ("héllo", "s6:héllo"),
    (java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.000006Z")), "t1704164645000006"),
    (java.sql.Date.valueOf("2024-01-02"), "D19724"),
    (Seq(1L, null), "[i1,n]"), (Row("a", 2), "{s1:a,i2}"))
}
