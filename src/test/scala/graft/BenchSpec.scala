package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench stdout line must stay under the harness tail budget for ANY
  * suite size — round 15's driver bench crashed one character over the
  * 1800-char budget at 156 queries because every fallback level was
  * per-query (linear in the count). These tests pin the structural bound
  * of the fold levels, not an empirical near-miss.
  */
class BenchSpec extends AnyFunSuite {

  private def synth(n: Int): Seq[(String, Double)] =
    (1 to n).map { i =>
      // mix of regimes: sub-0.5s (foldable), 1-10s, >10s, and failures
      val v = (i % 10) match {
        case 0 => -1.0          // all-reps failure
        case 1 => 14.37         // slow
        case 2 | 3 => 3.2 + i % 5
        case _ => 0.08 + (i % 4) * 0.1
      }
      (f"q$i%d", v)
    }

  test("156-query suite (the round-15 crash size) fits the budget") {
    val meds = synth(156)
    val line = Bench.renderLine(meds, meds.map(_._2).filter(_ >= 0).sum, 3, 0.1)
    assert(line.length < Bench.StdoutBudget, s"len=${line.length}")
    assert(line.startsWith("{\"metric\":\"total\""))
  }

  test("300 synthetic queries render under the budget") {
    val meds = synth(300)
    val line = Bench.renderLine(meds, meds.map(_._2).filter(_ >= 0).sum, 3, 0.1)
    assert(line.length < Bench.StdoutBudget, s"len=${line.length}")
  }

  test("pathological suite: 3000 queries, all slow, still bounded") {
    // every query >10s so no precision level and no finite cutoff below
    // MaxValue can fold them — the terminal fold-everything level must fire
    val meds = (1 to 3000).map(i => (s"q$i", 42.0 + i % 7))
    val line = Bench.renderLine(meds, meds.map(_._2).sum, 3, 0.1)
    assert(line.length < Bench.StdoutBudget, s"len=${line.length}")
    assert(line.contains("\"fast_n\":3000"), "terminal level folds everything")
  }

  test("small suite keeps full 2-decimal per-query detail") {
    val meds = Seq(("q1", 1.234), ("q2", 0.056))
    val line = Bench.renderLine(meds, 1.29, 3, 0.001)
    assert(line.contains("\"q1\":1.23"))
    assert(line.contains("\"q2\":0.06"))
    assert(!line.contains("fast_n"), "no folding when detail fits")
  }

  test("folded levels keep slow queries individually visible and count failures") {
    // force past precision levels: enough sub-0.5s queries to overflow
    // uniform rendering but fold cleanly at the 0.5s cutoff
    val fast = (1 to 250).map(i => (s"q$i", 0.12))
    val meds = fast ++ Seq(("qslow", 12.7), ("qdead", -1.0))
    val line = Bench.renderLine(meds, fast.size * 0.12 + 12.7, 3, 0.1)
    assert(line.length < Bench.StdoutBudget)
    assert(line.contains("\"qslow\":13"), s"slow query visible: $line")
    assert(line.contains("\"fast_n\":250"))
    assert(line.contains("\"fail_n\":1"))
    // fast_total ~= 30.0
    assert(line.contains("\"fast_total\":30.0"))
  }

  test("stderr detail line carries median, MIN, spread, and rep count per query") {
    // min is the noise-robust cross-round comparator (r16: medians
    // spread 17% between same-code runs, mins landed within ~1.1x)
    val results = Seq(
      ("q1_alpha", Vector(2.0, 1.5, 3.0)),
      ("q2_beta", Vector(0.5)),
      ("q3_dead", Vector.empty[Double]))
    val line = Bench.detailLine(results, 3, "/root/testdata/sf0.1")
    assert(line.startsWith("[bench-detail] {"))
    assert(line.contains("\"queries\":{\"q1_alpha\":2.000,\"q2_beta\":0.500,\"q3_dead\":-1.000}"))
    assert(line.contains("\"min\":{\"q1_alpha\":1.500,\"q2_beta\":0.500,\"q3_dead\":-1.000}"))
    assert(line.contains("\"spread\":{\"q1_alpha\":1.500,\"q2_beta\":0.000,\"q3_dead\":-1.000}"))
    assert(line.contains("\"n\":{\"q1_alpha\":3,\"q2_beta\":1,\"q3_dead\":0}"))
    assert(!line.contains("\n"))
  }

  test("stderr detail line counts failed warmups; a clean warmup reads 0") {
    val results = Seq(("q1_alpha", Vector(1.0)))
    val clean = Bench.detailLine(results, 3, "sf0.1")
    assert(clean.endsWith(",\"warm_failed\":0}"), clean)
    val failed = Bench.detailLine(results, 3, "sf0.1", warmFailed = 2)
    assert(failed.endsWith(",\"warm_failed\":2}"), failed)
    assert(!failed.contains("\n"))
  }

  test("deadline_hit renders as a fixed-size field at every fold level") {
    val small = Seq(("q1", 1.234), ("q2", 0.056))
    val sLine = Bench.renderLine(small, 1.29, 3, 0.1, deadlineHit = 2)
    assert(sLine.contains("\"deadline_hit\":2"), sLine)
    // and at the terminal fold-everything level
    val huge = (1 to 3000).map(i => (s"q$i", 42.0))
    val hLine = Bench.renderLine(huge, huge.map(_._2).sum, 3, 0.1, deadlineHit = 161)
    assert(hLine.length < Bench.StdoutBudget)
    assert(hLine.contains("\"deadline_hit\":161"), hLine)
    // zero hits = field absent (an undegraded run reads as before)
    assert(!Bench.renderLine(small, 1.29, 3, 0.1).contains("deadline_hit"))
  }

  test("top-up policy: fast and unstable queries earn reps; heavy and replete ones don't") {
    def topUp(ts: Vector[Double]) = Bench.needsTopUp(ts, 7, 2.0, 1.25, 8.0)
    assert(topUp(Vector(0.4, 0.5, 0.6)), "sub-2s queries top up pre-emptively")
    assert(topUp(Vector(3.0, 3.1, 6.0)), "mid-speed spread-unstable tops up")
    assert(!topUp(Vector(3.0, 3.1, 3.2)), "stable mid-speed query does not")
    assert(!topUp(Vector(10.0, 11.0, 22.0)),
      "heavy query (median >= heavyCutSec) never tops up — its spread is tenancy")
    assert(!topUp(Vector.fill(7)(0.4)), "replete rep set stops")
    assert(!topUp(Vector.empty), "all-reps-failed query cannot top up")
  }

  test("rep-budget planning: a slow host drops to 2 then 1 base passes BEFORE starting them") {
    // the r18 failure shape: pass 1 alone cost ~1500s on a contended
    // host and every query degraded to one unordered rep mid-pass —
    // the planner must decide 3 -> 2 -> 1 from pass-1's real cost
    // instead of discovering it one query at a time
    assert(Bench.planReps(3, elapsed = 200.0, passCost = 150.0,
      deadline = 1500.0) == 3, "plenty of budget keeps all passes")
    assert(Bench.planReps(3, elapsed = 700.0, passCost = 600.0,
      deadline = 1500.0) == 2, "tight budget plans 2 passes")
    assert(Bench.planReps(3, elapsed = 1400.0, passCost = 600.0,
      deadline = 1500.0) == 1, "blown budget plans the 1 pass already run")
    assert(Bench.planReps(3, elapsed = 2000.0, passCost = 600.0,
      deadline = 1500.0) == 1, "never below 1 — pass 1 already happened")
    assert(Bench.planReps(3, elapsed = 10.0, passCost = 0.0,
      deadline = 1500.0) == 3, "zero cost (all queries failed) keeps the plan")
    assert(Bench.planReps(7, elapsed = 100.0, passCost = 100.0,
      deadline = 1500.0) == 7, "capped at the configured reps")
  }

  test("cheapest-first pass order: known-cheap queries run first, unknown estimates last") {
    val est = Map("qheavy" -> 400.0, "qcheap" -> 0.5, "qmid" -> 12.0)
    val got = Bench.orderCheapestFirst(
      Seq("qheavy", "qunknown_b", "qcheap", "qmid", "qunknown_a"), est)
    assert(got == Seq("qcheap", "qmid", "qheavy", "qunknown_a", "qunknown_b"),
      s"got $got")
  }

  test("planned_reps and min_total render as fixed-size scoreboard fields") {
    val meds = Seq(("q1", 1.234), ("q2", 0.056))
    val mins = Seq(("q1", 1.100), ("q2", 0.050))
    val line = Bench.renderLine(meds, 1.29, 3, 0.1,
      plannedReps = 1, mins = mins)
    assert(line.contains("\"planned_reps\":1"), line)
    assert(line.contains("\"min_total\":1.150"), line)
    // an undegraded plan (planned == configured) leaves the field off
    val full = Bench.renderLine(meds, 1.29, 3, 0.1,
      plannedReps = 3, mins = mins)
    assert(!full.contains("planned_reps"), full)
    assert(full.contains("\"min_total\""), full)
  }

  test("per-query min rides the stdout line when it fits and folds away first") {
    val meds = Seq(("q1", 1.234), ("q2", 0.056))
    val mins = Seq(("q1", 1.100), ("q2", 0.050))
    val small = Bench.renderLine(meds, 1.29, 3, 0.1, mins = mins)
    assert(small.contains("\"min\":{\"q1\":1.10,\"q2\":0.05}"), small)
    // a suite too big for two per-query maps keeps the MEDIAN map and
    // drops the min map (medians win the space contest), min_total stays
    val bigM = (1 to 200).map(i => (s"q$i", 3.2 + i % 5))
    val big = Bench.renderLine(bigM, bigM.map(_._2).sum, 3, 0.1, mins = bigM)
    assert(big.length < Bench.StdoutBudget)
    assert(!big.contains("\"min\":{"), big.take(200))
    assert(big.contains("\"min_total\""), big.take(200))
    // reps = 1 carries no meaningful min — object omitted
    val one = Bench.renderLine(meds, 1.29, 1, 0.1, mins = mins)
    assert(!one.contains("\"min\":{"), one)
  }

  test("contention index: median probe over quiet constant; -1 without probes") {
    // quiet host: probes near the constant read ~1
    assert(math.abs(Bench.contentionIndex(Seq(0.45, 0.44, 0.46), 0.45) - 1.0) < 0.05)
    // contended host (the r17-r19 official shape): reads >> 1
    assert(Bench.contentionIndex(Seq(2.7, 13.5, 4.5), 0.45) == 10.0)
    // the median discards one outlier probe — a single contended
    // window must not brand a whole quiet run
    assert(Bench.contentionIndex(Seq(0.45, 0.45, 9.0), 0.45) == 1.0)
    assert(Bench.contentionIndex(Nil, 0.45) == -1.0, "no probes -> -1")
    assert(Bench.contentionIndex(Seq(0.5), 0.0) == -1.0, "bad constant -> -1")
  }

  test("contention_index and stage_cached render on the line; omitted when absent") {
    val meds = Seq(("q1", 1.234), ("q2", 0.056))
    val line = Bench.renderLine(meds, 1.29, 3, 0.1,
      contention = 7.375, stageCached = Seq("q135", "q138"))
    assert(line.contains("\"contention_index\":7.38"), line)
    assert(line.contains("\"stage_cached\":[\"q135\",\"q138\"]"), line)
    val bare = Bench.renderLine(meds, 1.29, 3, 0.1)
    assert(!bare.contains("contention_index"), bare)
    assert(!bare.contains("stage_cached"), bare)
    // both fields survive every fold level (a huge suite still says
    // how contended/cached it was)
    val big = (1 to 400).map(i => (s"q$i", 3.2 + i % 5))
    val folded = Bench.renderLine(big, big.map(_._2).sum, 3, 0.1,
      contention = 2.5, stageCached = Seq("q135"))
    assert(folded.length < Bench.StdoutBudget)
    assert(folded.contains("\"contention_index\":2.50"), folded.take(200))
    assert(folded.contains("\"stage_cached\":[\"q135\"]"), folded.take(200))
  }

  test("passCost planning reads the LATEST rep, not the min (degrading host)") {
    // planReps itself is policy-pure; this pins the shape the caller
    // feeds it: a host that degraded 100s -> 300s must plan from 300
    val latest = Seq(Vector(100.0, 300.0), Vector(50.0, 150.0)).map(_.last).sum
    assert(latest == 450.0)
    assert(Bench.planReps(3, elapsed = 700.0, passCost = latest,
      deadline = 1500.0) == 2, "latest-cost planning sheds the third pass")
    // min-based cost (the old estimate) would have kept all 3 and
    // blown the deadline mid-pass
    val minCost = Seq(Vector(100.0, 300.0), Vector(50.0, 150.0)).map(_.min).sum
    assert(Bench.planReps(3, elapsed = 700.0, passCost = minCost,
      deadline = 1500.0) == 3)
  }

  test("the line is valid single-line JSON shape") {
    val meds = synth(200)
    val line = Bench.renderLine(meds, 100.0, 3, 0.1)
    assert(!line.contains("\n"))
    // braces balance (no nested objects beyond "queries")
    assert(line.count(_ == '{') == 2 && line.count(_ == '}') == 2)
  }
}
