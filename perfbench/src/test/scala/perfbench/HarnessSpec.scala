package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("seed -> per-pass permutation is deterministic and a permutation") {
    val names = (1 to 12).map(i => s"q_$i")
    val a = (1 to 5).map(p => Workloads.order(names, 42L, p))
    val b = (1 to 5).map(p => Workloads.order(names.reverse, 42L, p))
    assert(a == b, "same seed and pass must give the same order, whatever the input order")
    a.foreach(o => assert(o.sorted == names.sorted))
    assert(a.distinct.size > 1, "passes draw fresh orders")
    assert(Workloads.order(names, 43L, 1) != a.head, "another seed gives another order")
  }

  test("tail percentile: the highest one with at least 10 samples above it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(90))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(10).isEmpty)
    for (n <- 11 to 300; p <- Stats.tailPercentile(n)) {
      val rank = math.ceil(p / 100.0 * n).toInt
      assert(n - rank >= 10, s"n=$n p=$p leaves ${n - rank} above")
      if (p < 90) assert(n - math.ceil((p + 1) / 100.0 * n).toInt < 10, s"n=$n: p+1 also fits")
    }
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("span self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(0, -1, "query", "q", 0, 100),
      Span(1, 0, "build", "q", 0, 40),
      Span(2, 0, "exec", "q", 40, 90),
      Span(3, 1, "job", "j1", 10, 30),
      Span(4, 1, "job", "j2", 20, 35), // overlaps j1: covered once
      Span(5, 2, "job", "j3", 50, 120)) // runs past its parent: clipped
    val self = Trace.selfNs(spans)
    assert(self(0) == 10)
    assert(self(1) == 40 - 25)
    assert(self(2) == 50 - 40)
    assert(self(3) == 20 && self(4) == 15 && self(5) == 70)
    val byLayer = Trace.selfSecondsByLayer(spans)
    assert(byLayer("job") == 105 / 1e9)
  }

  test("every workload name resolves in SparkEntry.queries") {
    val registry = graft.SparkEntry.queries
    Workloads.all.foreach { w =>
      val qs = Workloads.resolve(w, registry)
      assert(qs.nonEmpty && qs.map(_._1).distinct.size == qs.size, w)
    }
    assert(Workloads.dashboard.size == Workloads.dashboardPanels.size)
    val renamed = intercept[IllegalArgumentException] {
      Workloads.resolve("curation", registry - "q_dup_spans")
    }
    assert(renamed.getMessage.contains("q_dup_spans"))
  }
}
