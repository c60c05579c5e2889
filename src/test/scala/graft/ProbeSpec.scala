package graft

import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

/** The probe tool's modes run on a caller's session: `census` rows
  * carry the phase times and listener counts, `plan` returns the
  * formatted EXPLAIN, and the shared parser rejects unknown flags.
  */
class ProbeSpec extends AnyFunSuite {
  import TestSpark._

  test("census: one row per query per rep, listener counts, non-negative phases") {
    val names = Seq("q_region_volume", "q_stream_hourly") // batch, streaming
    val rows = Probe.census(spark, sf, names, reps = 2)
    assert(rows.map(r => (r.rep, r.query)) ===
      Seq(1, 2).flatMap(rep => names.map(rep -> _)))
    rows.foreach { r =>
      assert(r.counts.jobs >= 1, r)
      assert(r.counts.stages >= 1 && r.counts.tasks >= 1, r)
      assert(Seq(r.buildS, r.planS, r.execS).forall(_ >= 0.0), r)
    }
  }

  test("plan: formatted EXPLAIN of the returned frame") {
    val Seq((q, txt)) = Probe.plan(spark, sf, Seq("q_region_volume"), out = None)
    assert(q === "q_region_volume")
    assert(txt.contains("== Physical Plan =="), txt.take(500))
  }

  test("parse: shared flags and positional args; unknown modes and flags fail") {
    val a = Probe.parse(Seq("asof", "200", "300", "sf=/d", "reps=2",
      "conf=spark.sql.x=a=b", "out=/o"))
    assert(a.mode === "asof" && a.positional === Seq("200", "300"))
    assert(a.sf === Some("/d") && a.reps === 2 && a.out === Some("/o"))
    assert(a.confs === Seq("spark.sql.x" -> "a=b"))
    assert(a.long(1, 0L) === 300L && a.long(2, 7L) === 7L)
    intercept[IllegalArgumentException](Probe.parse(Seq("census", "q", "suffix=after")))
    intercept[IllegalArgumentException](Probe.parse(Seq("nope")))
  }
}
