package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("median of odd and even samples") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](median(Nil))
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 50) == 50.0)
    assert(percentile(xs, 90) == 90.0)
    assert(percentile(xs, 100) == 100.0)
    assert(percentile(Seq(7.0), 90) == 7.0)
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(tailPercentile(9).isEmpty)
    assert(tailPercentile(19).isEmpty)
    assert(tailPercentile(20).contains(50.0))
    assert(tailPercentile(40).contains(75.0))
    assert(tailPercentile(99).contains(75.0))
    assert(tailPercentile(100).contains(90.0))
    assert(tailPercentile(1000).contains(99.0))
    assert(tailPercentile(10000).contains(99.9))
    // every choice really has ten samples beyond it
    (1 to 2000).foreach(n => tailPercentile(n).foreach(p =>
      assert(samplesBeyond(n, p) >= 10, s"n=$n p=$p")))
  }

  test("interval union counts overlaps once") {
    assert(unionLength(Nil) == 0)
    assert(unionLength(Seq((0L, 10L), (20L, 30L))) == 20)
    assert(unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))) == 30)
    assert(unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("self time is the span minus the union of its children, clipped") {
    assert(selfTime((0L, 100L), Nil) == 100)
    assert(selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L))) == 70)
    // children reaching outside the span count only inside it
    assert(selfTime((0L, 100L), Seq((-50L, 10L), (90L, 200L))) == 80)
    assert(selfTime((0L, 100L), Seq((200L, 300L))) == 100)
    assert(selfTime((0L, 100L), Seq((0L, 100L))) == 0)
  }

  test("metric names are letters, digits, '_', '.' and '-'") {
    Seq("wall_s", "stage.docs.task_cpu_s", "query.kg_csv_inventory.s",
      "p-50", "9lives").foreach(n => assert(validName(n), n))
    Seq("", "wall s", "a/b", ".hidden", "_x", "x" * 65, "naïve", "a:b")
      .foreach(n => assert(!validName(n), n))
    assert(validName("x" * 64))
  }

  test("a metric rejects a bad name, unit or value") {
    assert(Metric("wall_s", 1.5, "s").value == 1.5)
    assertThrows[IllegalArgumentException](Metric("wall s", 1, "s"))
    assertThrows[IllegalArgumentException](Metric("wall_s", 1, "per second"))
    assertThrows[IllegalArgumentException](Metric("wall_s", Double.NaN, "s"))
    assertThrows[IllegalArgumentException](
      Metric("wall_s", Double.PositiveInfinity, "s"))
  }
}
