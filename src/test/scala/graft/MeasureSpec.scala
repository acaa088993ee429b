package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the harnesses' shared median and host-ratio normalization on
  * hand-computed golden inputs, so the divisor the bench and stream gates
  * apply cannot move silently:
  * host = clamp(clamp(min(spin) / 100, 1, 3) * clamp(58 / median(bw), 1, 2), 1, 3). */
class MeasureSpec extends AnyFunSuite {

  private val eps = 1e-12

  test("median of odd and even sample counts") {
    assert(Measure.median(Seq(7.0)) === 7.0)
    assert(Measure.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Measure.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Measure.median(Seq(50.0, 40.0)) === 45.0)
    intercept[IllegalArgumentException](Measure.median(Nil))
  }

  test("spin below the reference clamps to 1; the bandwidth term sets the ratio") {
    // spin 90/100 = 0.9 -> 1; bw median 45 -> 58/45
    val r = Measure.hostRatio(Seq(90.0), Seq(40.0, 50.0))
    assert(r.spinRatio === 1.0)
    assert(r.bwMedian === 45.0)
    assert(math.abs(r.bwRatio - 58.0 / 45.0) < eps)
    assert(math.abs(r.value - 58.0 / 45.0) < eps)
    assert(math.abs(r.value - 1.2889) < 1e-4)
  }

  test("both terms at their upper clamps: spin 3, bandwidth 2, host 3") {
    // spin 400/100 = 4 -> 3; bw 58/10 = 5.8 -> 2; host 6 -> 3
    val r = Measure.hostRatio(Seq(400.0), Seq(10.0))
    assert(r.spinRatio === 3.0)
    assert(r.bwRatio === 2.0)
    assert(r.value === 3.0)
  }

  test("host clamps to 3 even when neither term is clamped") {
    // spin 2.0, bw 58/35 = 1.657...; product 3.314... -> 3
    val r = Measure.hostRatio(Seq(200.0), Seq(35.0))
    assert(r.spinRatio === 2.0)
    assert(math.abs(r.bwRatio - 58.0 / 35.0) < eps)
    assert(r.value === 3.0)
  }

  test("a clean host normalizes to exactly 1") {
    // spin min 80 -> 1; bw median (70 + 90) / 2 = 80 -> 58/80 < 1 -> 1
    val r = Measure.hostRatio(Seq(95.0, 80.0), Seq(100.0, 90.0, 70.0, 60.0))
    assert(r.spinRatio === 1.0)
    assert(r.bwMedian === 80.0)
    assert(r.bwRatio === 1.0)
    assert(r.value === 1.0)
  }

  test("spin uses the MIN sample, bandwidth the MEDIAN, and the terms multiply") {
    // spin min 120 -> 1.2; bw median 50 -> 1.16; host 1.392
    val r = Measure.hostRatio(Seq(150.0, 120.0, 300.0), Seq(20.0, 50.0, 70.0))
    assert(math.abs(r.spinRatio - 1.2) < eps)
    assert(r.bwMedian === 50.0)
    assert(math.abs(r.bwRatio - 1.16) < eps)
    assert(math.abs(r.value - 1.392) < eps)
  }

  test("the bandwidth term reaches exactly 2 at half the reference") {
    val r = Measure.hostRatio(Seq(100.0), Seq(29.0))
    assert(r.spinRatio === 1.0)
    assert(r.bwRatio === 2.0)
    assert(r.value === 2.0)
  }
}
