package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's arithmetic: every reported figure rests on these. */
class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("p90 is reported only with at least ten samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    // nearest rank ceil(0.9 * 99) = 90 leaves 9 samples beyond: not reported
    assert(Stats.tailPercentile(xs, 0.9).isEmpty)
    val ys = (1 to 100).map(_.toDouble)
    // rank 90 leaves exactly 10 beyond
    assert(Stats.tailPercentile(ys, 0.9).contains(90.0))
    assert(Stats.tailPercentile(ys.reverse, 0.9).contains(90.0))
    assert(Stats.tailPercentile((1 to 1000).map(_.toDouble), 0.99).contains(990.0))
    assert(Stats.tailPercentile(Nil, 0.9).isEmpty)
    // a lower percentile needs fewer samples
    assert(Stats.tailPercentile((1 to 20).map(_.toDouble), 0.5).contains(10.0))
  }

  test("interval union merges overlaps and keeps gaps") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10)
    // overlapping, nested, touching and disjoint intervals, in any order
    assert(Stats.unionLength(Seq((5L, 15L), (0L, 10L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Stats.unionLength(Seq((30L, 40L), (0L, 10L), (5L, 12L))) == 22)
    // empty and inverted intervals cover nothing
    assert(Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0)
    assert(Stats.coveredWithin(Seq((-5L, 5L), (8L, 30L)), 0L, 10L) == 7)
  }

  test("driver gap is the op time no job covers") {
    // op 0: 100 long, jobs cover 20..50 and 40..60 (union 40)
    // op 1: 50 long, one job that spills past the op end (clipped to 30)
    val gap = Stats.driverGapFrac(
      Seq((0L, 100L), (200L, 250L)),
      Seq(Seq((20L, 50L), (40L, 60L)), Seq((220L, 300L))))
    assert(math.abs(gap - (1.0 - 70.0 / 150.0)) < 1e-12)
    assert(Stats.driverGapFrac(Seq((0L, 10L)), Seq(Nil)) == 1.0)
    assert(Stats.driverGapFrac(Nil, Nil) == 0.0)
  }

  test("self time subtracts the union of children, clipped to the span") {
    assert(Stats.selfTime(0L, 100L, Nil) == 100)
    assert(Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 100 - 30 - 10)
    // a child wholly outside the span takes nothing
    assert(Stats.selfTime(0L, 100L, Seq((200L, 300L))) == 100)
  }

  test("error fraction counts each failed op once") {
    assert(Stats.errorFrac(10, Set.empty) == 0.0)
    // an op that threw and also mismatched appears once in the set
    assert(Stats.errorFrac(10, Set(1, 4) ++ Set(4)) == 0.2)
    assert(Stats.errorFrac(1, Set(0)) == 1.0)
    assertThrows[IllegalArgumentException](Stats.errorFrac(0, Set.empty))
    assertThrows[IllegalArgumentException](Stats.errorFrac(3, Set(3)))
  }
}
