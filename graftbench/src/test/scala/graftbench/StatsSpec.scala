package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graftbench.Stats.Span

class StatsSpec extends AnyFunSuite {

  test("the tail percentile always has at least ten samples beyond it") {
    val r = new scala.util.Random(1)
    (0 to 300).foreach { n =>
      val xs = Seq.fill(n)(r.nextDouble())
      Stats.tail(xs) match {
        case None => assert(n < 11)
        case Some(t) =>
          assert(xs.count(_ > t.value) >= 10, s"n=$n")
          assert(xs.count(_ > t.value) == 10, s"n=$n: not the highest such percentile")
          assert(t.samples == n && t.percentile == 100.0 * (n - 10) / n)
      }
    }
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  private def span(id: Int, parent: Int, layer: String, start: Long, end: Long) =
    Span(id, parent, 1, layer, s"$layer.x", start, end, Map.empty)

  test("self time is the span minus the time its children cover") {
    val root = span(0, -1, "jobs", 0, 100)
    // overlapping children count once; a child running past the parent is clipped
    val kids = Seq(span(1, 0, "a", 10, 30), span(2, 0, "b", 20, 40), span(3, 0, "c", 90, 120))
    assert(Stats.selfTime(root, kids) == 100 - 30 - 10)
    assert(Stats.selfTime(root, Nil) == 100)
    val byLayer = Stats.selfTimeByLayer(root +: kids)
    assert(byLayer("jobs") == 60)
    assert(byLayer("a") == 20 && byLayer("b") == 20 && byLayer("c") == 30)
  }

  test("a grandchild's time is not taken out of its grandparent twice") {
    val spans = Seq(span(0, -1, "client", 0, 100), span(1, 0, "operators", 0, 80),
      span(2, 1, "plans", 10, 30))
    val self = Stats.selfTimeByLayer(spans)
    assert(self("client") == 20 && self("operators") == 60 && self("plans") == 20)
    assert(self.values.sum == 100)
  }
}
