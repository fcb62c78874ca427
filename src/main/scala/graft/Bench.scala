package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered gate query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) on local[N] and prints ONE JSON
  * line with per-query wall seconds. The action is a `noop`-format write:
  * unlike `count()` (which lets ColumnPruning drop projection-only work —
  * a signature/scoring query would time as a bare row-count scan), the
  * noop sink consumes every output column, so timings cover the real
  * operator work end to end.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.local(cpus)
    // JVM/codegen warmup: run EVERY query once at the smallest sf before
    // timing — the first execution of each query shape pays whole-stage
    // codegen compilation + classloading (measured 3.4s vs 0.5s
    // steady-state for the minhash pipeline); warming on sf0.001 data
    // compiles the same generated classes without touching the measured
    // dataset. Cached intermediates from warmup are dropped so the timed
    // runs do their own work.
    // Optional comma-separated name filter for targeted profiling runs;
    // unset (the driver's invocation) benches everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // "" means no filter, not "match nothing"
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // WALL-CLOCK DEADLINE (round-18: the round-17 driver bench was
    // KILLED on time — rc 124, no scoreboard — the second bench loss in
    // three rounds after r15's stdout overflow; the stdout budget got a
    // structural defense in r16, this is the TIME budget's). Elapsed is
    // measured from main entry (what the external kill clock sees).
    // Degradation order past the deadline: remaining WARMUPS are
    // skipped first (the warmup loop shares the clock and stops at 25%
    // of the budget), then adaptive top-up passes stop, then base
    // passes skip any query that already carries >= 1 successful rep —
    // a query with ZERO reps always runs (one real rep beats a -1 that
    // reads as a failure), so the stdout line ALWAYS prints with full
    // query coverage. Degraded queries are counted in the visible
    // "deadline_hit" field.
    val deadlineSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1500").toDouble
    val startNs = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - startNs) / 1e9
    try SparkEntry.entry(spark).count()
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] entry check failed: ${e.getMessage}")
    }
    // warmup times double as the pass-1 COST ESTIMATES (round 19):
    // they're sf0.001 numbers, useless as absolute sf0.1 predictions,
    // but their ORDERING is what pass scheduling needs — see
    // orderCheapestFirst below.
    val warmEst = scala.collection.mutable.Map.empty[String, Double]
    var warmFailed = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        if (elapsedSec < deadlineSec * 0.25)
          try {
            val w0 = System.nanoTime()
            fn(spark, warmDir).write.mode("overwrite").format("noop").save()
            warmEst(name) = (System.nanoTime() - w0) / 1e9
          } catch {
            case NonFatal(e) =>
              warmFailed += 1
              System.err.println(s"[bench] $name warmup failed: ${e.getMessage}")
          }
      }
    spark.catalog.clearCache()
    // CONTENTION PROBES (round 20): the same fixed CPU-bound probe is
    // re-run at a few points spread across the run's wall (after
    // warmup, after each base pass, after top-ups) and the stdout line
    // carries median(probe)/quiet-constant as "contention_index" — on
    // a contended host (r17-r19 officials ran at ~5-30x) the absolutes
    // are unusable and on a planned_reps:1 run min==median, so this is
    // the one field that lets a reader separate host from code at a
    // glance. One untimed run first: the probe's own codegen/JIT warm
    // must not count as "contention".
    val probeTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      // untimed runs until two consecutive times converge within 10%
      // (capped at 6): the probe's codegen + JIT tiering keeps
      // improving across several executions (measured 0.97 → 0.37 s
      // over a 7-run series), and a probe timed mid-tier would read
      // as phantom contention
      var prev = contentionProbeSec(spark)
      var warmed = 1
      var cur = contentionProbeSec(spark)
      while (warmed < 6 && cur < prev * 0.9) {
        prev = cur; cur = contentionProbeSec(spark); warmed += 1
      }
      probeTimes += cur
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] contention probe failed: $e")
    }
    // INTERLEAVED passes + adaptive reps: the host shows heavy
    // run-to-run contention noise (the same query measured 0.5s and
    // 4.8s in adjacent suite runs; three consecutive rounds of verdict
    // adjudication traced 2-4x "regressions" on untouched code to
    // suite contention). Two defenses:
    //   1. Reps are interleaved ACROSS the suite (pass 1 of every
    //      query, then pass 2, ...) instead of back-to-back per query,
    //      so a contended time window taxes ONE rep of several queries
    //      — which the per-query median then discards — rather than
    //      every rep of one query, which no statistic can repair.
    //   2. Queries whose running median is under 2s (where a single
    //      contended rep is a 2-4x swing) get extra interleaved passes
    //      until they carry >=5 reps — AND (round 9) queries of ANY
    //      speed whose rep spread exceeds SPREAD_RATIO of their median:
    //      the round-8 judge rerun showed the heavy tail (q77 8.4→14.4s,
    //      q78 2.1→8.8s between consecutive full runs) is exactly the
    //      class the sub-2s rule missed — 3 reps of a contended 10s
    //      query let ONE bad rep decide the median. A wide spread is
    //      direct evidence the median is not yet trustworthy, so spread
    //      (not speed) is the top-up trigger; reps stay bounded by
    //      fastReps so a genuinely bimodal query terminates.
    // clearCache BETWEEN reps: operators that persist intermediates
    // (the dedup pipelines) build identical plans on later reps, and
    // CacheManager would otherwise substitute rep 1's materialized
    // cache — timing a cache-hit run, not full work. Clearing also
    // stops cached intermediates accumulating across the suite.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val fastReps = sys.env.getOrElse("SPARK_GRAFT_FAST_REPS", "7").toInt.max(reps)
    val fastCutSec = sys.env.getOrElse("SPARK_GRAFT_FAST_CUT_SEC", "2.0").toDouble
    // a rep set whose max exceeds min by this ratio is "unstable" and
    // earns top-up passes regardless of speed (1.25 < the 1.3x
    // reproducibility bar, so certified medians carry margin)
    val spreadRatio = sys.env.getOrElse("SPARK_GRAFT_SPREAD_RATIO", "1.25").toDouble
    // queries at or above this median are EXEMPT from spread-triggered
    // top-ups: their spread is host tenancy, not measurement noise a
    // 5th rep can fix, and 7 reps of an 11 s gate is 77 s of the time
    // budget (the round-17 post-mortem — adaptive passes over the
    // heavy iterative gates were a large share of the wall overrun)
    val heavyCutSec = sys.env.getOrElse("SPARK_GRAFT_HEAVY_CUT_SEC", "8.0").toDouble
    // session accessor with post-failure recovery (same pattern as
    // Verify): a context-killing query must not silently void the rest
    // of the suite with near-zero "timings" of instant failures
    var active = spark
    def session(): SparkSession = {
      if (active.sparkContext.isStopped) active = Engine.local(cpus)
      active
    }
    def probe(): Unit =
      if (elapsedSec < deadlineSec)
        try probeTimes += contentionProbeSec(session())
        catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] contention probe failed: $e")
        }
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val timesByName = scala.collection.mutable.LinkedHashMap(
      queryList.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    // a failed rep reports NO timing: recording time-to-failure would
    // let the median publish a fast "success" for a query that threw.
    // Past the deadline a query with >= 1 successful rep is SKIPPED;
    // a zero-rep query still runs — coverage over precision.
    // deadline_hit counts only BASE-pass skips (round 19): a query
    // that banked every planned base rep and merely missed an
    // OPPORTUNISTIC top-up is not degraded — the r19 shakedown run
    // reported deadline_hit:115 with all 165 queries carrying 3 full
    // base reps, which reads as a catastrophic run when it was a
    // healthy one whose extras ran out of clock.
    val deadlineSkipped = scala.collection.mutable.Set.empty[String]
    // queries any of whose timed reps were SERVED a StageCache frame
    // (round 20, advice): those reps time a local parquet scan of a
    // stage an earlier gate/rep built, so their numbers must not be
    // naively compared against uncached rounds — the scoreboard says
    // which ones ("stage_cached"). SPARK_GRAFT_STAGE_CACHE=off times
    // the full recompute instead.
    val stageServed = scala.collection.mutable.Set.empty[String]
    def runPass(subset: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                base: Boolean = false): Unit =
      subset.foreach { case (name, fn) =>
        if (elapsedSec > deadlineSec && timesByName(name).nonEmpty) {
          if (base) deadlineSkipped += name
        } else {
          val s = session()
          s.catalog.clearCache()
          val served0 = graft.queries.StageCache.serveCount
          val t0 = System.nanoTime()
          try {
            fn(s, sfDir).write.mode("overwrite").format("noop").save()
            timesByName(name) = timesByName(name) :+ (System.nanoTime() - t0) / 1e9
            if (graft.queries.StageCache.serveCount > served0) stageServed += name
          } catch {
            // Throwable, not NonFatal: a driver OOM in one query must not
            // lose the scoreboard line; session() replaces a killed context
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
        }
      }
    // CHEAPEST-FIRST passes + a PLANNED rep budget (round 19 — the
    // round-18 post-mortem: BENCH_r18.json printed, but pass 1 alone
    // blew the deadline on a ~5-30x contended host, so all 164 queries
    // degraded to ONE unordered rep and the medians were unusable for
    // round-over-round comparison). Two fixes:
    //   1. EVERY pass runs cheapest-first (pass 1 by warmup-time order,
    //      later passes by running median): when the budget dies
    //      mid-pass, it is the heavies that stay under-replicated —
    //      not every query alphabetically after the point of death,
    //      and the cheap majority has already banked its reps.
    //   2. After pass 1 the suite's REAL per-pass cost is known
    //      exactly; planReps decides how many base passes fit the
    //      remaining budget BEFORE starting pass 2 (3 -> 2 -> 1,
    //      announced in the visible "planned_reps" field) instead of
    //      discovering mid-pass that none do. Each later pass re-checks
    //      against the latest pass's actual cost, so a degrading host
    //      sheds passes early rather than stranding a pass half-run.
    runPass(orderCheapestFirst(queryList.map(_._1), warmEst.toMap)
      .map(n => queryList.find(_._1 == n).get), base = true)
    probe()
    // next-pass estimate = sum of each query's LATEST rep (round 20,
    // advice): the min systematically underestimates on a degrading
    // host — the whole reason later passes re-check — while the most
    // recent rep tracks what the host costs NOW.
    def passCostNow: Double = {
      val ts = timesByName.values.filter(_.nonEmpty)
      if (ts.isEmpty) 0.0 else ts.map(_.last).sum
    }
    var plannedReps = planReps(reps, elapsedSec, passCostNow, deadlineSec)
    if (plannedReps < reps)
      System.err.println(f"[bench] rep budget planned down to " +
        f"$plannedReps/$reps base passes (pass 1 cost $passCostNow%.1f s, " +
        f"elapsed $elapsedSec%.1f s of $deadlineSec%.0f s)")
    var basePass = 1
    while (basePass < plannedReps) {
      if (elapsedSec + passCostNow > deadlineSec) plannedReps = basePass
      else {
        val medEst = timesByName.map { case (n, ts) =>
          n -> (if (ts.isEmpty) Double.MaxValue else ts.sorted.apply(ts.size / 2))
        }.toMap
        runPass(orderCheapestFirst(queryList.map(_._1), medEst)
          .map(n => queryList.find(_._1 == n).get), base = true)
        basePass += 1
        probe()
      }
    }
    // Adaptive passes for the noise-prone queries: all sub-2s queries
    // (pre-emptively — one contended rep there is a 2-4x swing), plus
    // any query whose observed rep spread already exceeds spreadRatio
    // (unless it is heavy — see heavyCutSec). The pass cap bounds work
    // when a query alternates success/failure and can never accumulate
    // fastReps successful reps; the deadline stops top-ups outright.
    var extraPass = 0
    var pending = true
    while (pending && extraPass < fastReps && elapsedSec < deadlineSec) {
      val fast = queryList.filter { case (name, _) =>
        needsTopUp(timesByName(name), fastReps, fastCutSec, spreadRatio, heavyCutSec)
      }
      if (fast.isEmpty) pending = false
      else { runPass(fast); extraPass += 1 }
    }
    probe()
    val cIdx = contentionIndex(probeTimes.toSeq, ProbeQuietSec)
    System.err.println("[bench] contention probes " +
      probeTimes.map(t => f"$t%.2f").mkString("[", ",", "]") +
      f" s, quiet const $ProbeQuietSec%.2f s, index $cIdx%.2f")
    val results = queryList.map { case (name, _) => name -> timesByName(name) }
    // -1 marks an all-reps failure; spread = max-min over successful reps
    val meds = results.map { case (k, ts) =>
      k -> (if (ts.isEmpty) -1.0 else median(ts))
    }
    val mins = results.map { case (k, ts) =>
      k -> (if (ts.isEmpty) -1.0 else ts.min)
    }
    // The harness that collects this output keeps only the TAIL of stdout
    // (observed: last 2000 chars), so the stdout line must stay well under
    // that even with sbt's trailing "[success]" line after it. Compact
    // form: short "qNN" keys (the prefix before the first underscore is
    // unique across the suite) and no per-query spread. The full long-name
    // + spread detail still exists — on stderr, which the harness does not
    // need to parse.
    def shortKey(name: String): String = name.indexOf('_') match {
      case -1 => name
      case i  => name.substring(0, i)
    }
    val total = meds.map(_._2).filter(_ >= 0).sum
    // numeric sf parsed from the dir name ("sf0.1" -> 0.1); -1 if unparseable
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption).getOrElse(-1.0)
    if (deadlineSkipped.nonEmpty)
      System.err.println(s"[bench] deadline ${deadlineSec}s hit -- " +
        s"${deadlineSkipped.size} queries degraded: " +
        deadlineSkipped.toSeq.sorted.mkString(","))
    System.err.println(detailLine(results, reps, sfDir, warmFailed))
    val line = renderLine(meds.map { case (k, v) => shortKey(k) -> v },
      total, reps, sfNum, deadlineSkipped.size,
      plannedReps = plannedReps,
      mins = mins.map { case (k, v) => shortKey(k) -> v },
      contention = cIdx,
      stageCached = stageServed.toSeq.map(shortKey).distinct.sorted)
    require(line.length < StdoutBudget, s"bench JSON line too long: ${line.length}")
    println(line)
    active.stop()
  }

  /** Wall seconds of ONE fixed CPU-bound probe: 1.6e9 codegen'd
    * xxhash64 evaluations over exactly 32 partitions, no IO, no
    * shuffle reads beyond the single-row aggregate. Deterministic and
    * data-independent, so its quiet-host time is a stable constant —
    * which makes its measured/quiet ratio a direct read of how
    * contended the host's CPUs are during the run (the r19 official
    * scoreboard carried 5-30x inflated absolutes with no way to tell
    * host from code without a judge re-run).
    */
  def contentionProbeSec(s: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    s.range(0, 1600000000L, 1, 32)
      .select(bit_xor(xxhash64(col("id")))) // xor: ANSI-safe (sum overflows)
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The probe's quiet-host constant: the median probe time on this
    * container (local[32], load < 2) across five quiet JVMs measured
    * 0.42–0.52 s with occasional 1 s outliers, so quiet runs read an
    * index of ~0.7–1.5. The index is a RATIO for reading a scoreboard
    * — ~1 means the absolutes are comparable round-over-round, >>1
    * (the r17–r19 official hosts would have read ~5–30) means host
    * tenancy inflated them and only minima should be compared. It is
    * a coarse instrument by design; re-calibrate only if the
    * container's CPU generation changes.
    */
  val ProbeQuietSec = 0.45

  /** Median probe time over the run's spread-out probes, divided by
    * the quiet constant; -1 when no probe completed. Pure for
    * BenchSpec.
    */
  def contentionIndex(probes: Seq[Double], quietSec: Double): Double =
    if (probes.isEmpty || quietSec <= 0) -1.0
    else {
      val s = probes.sorted
      val med =
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      med / quietSec
    }

  /** How many base passes fit the remaining wall budget, decided AFTER
    * pass 1 when the suite's real per-pass cost is known (round 19 —
    * the official r18 scoreboard printed single-rep values because
    * every pass was attempted and the deadline machinery degraded them
    * one query at a time). Never below 1 (pass 1 already ran), never
    * above the configured `reps`. Pure so the policy is unit-testable.
    */
  def planReps(reps: Int, elapsed: Double, passCost: Double,
               deadline: Double): Int = {
    val fit =
      if (passCost <= 0) reps
      else 1 + math.floor((deadline - elapsed) / passCost).toInt
    math.max(1, math.min(reps, fit))
  }

  /** Pass order: cheapest estimate first, missing estimates LAST
    * (alphabetical within ties) — when the wall budget dies mid-pass,
    * the cheap majority has already banked the rep and only the
    * heavies stay under-replicated. Pass 1 orders by warmup seconds
    * (sf0.001 numbers — wrong in absolute terms, right in ORDER),
    * later passes by the running median. Pure for unit tests.
    */
  def orderCheapestFirst(names: Seq[String],
                         est: Map[String, Double]): Seq[String] =
    names.sortBy(n => (est.getOrElse(n, Double.MaxValue), n))

  /** Whether a query's rep set earns another adaptive top-up pass:
    * under-replicated AND (fast enough that one contended rep is a
    * 2-4x swing, OR spread-unstable but NOT heavy — a heavy query's
    * spread is host tenancy that more reps cannot repair, and top-ups
    * there are what blew the round-17 time budget). Pure so the
    * policy is unit-testable.
    */
  def needsTopUp(ts: Vector[Double], fastReps: Int, fastCutSec: Double,
                 spreadRatio: Double, heavyCutSec: Double): Boolean = {
    def median(s0: Seq[Double]): Double = {
      val s = s0.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    ts.nonEmpty && ts.size < fastReps && {
      val med = median(ts)
      med < fastCutSec ||
        (med < heavyCutSec && ts.max > ts.min * spreadRatio)
    }
  }

  /** The full-precision per-query detail line, printed to STDERR (the
    * harness parses only the bounded stdout line — this one is for
    * humans and round-over-round adjudication). Carries, per query:
    * `queries` (3-decimal median), `min` (3-decimal min — the
    * noise-robust comparator: three r16 same-code series spread 17%
    * on medians while min-over-runs landed within ~1.1×, so
    * cross-round "regression vs drift" calls read min first),
    * `spread` (max−min), and `n` (successful rep count). -1 marks an
    * all-reps failure. `warm_failed` counts queries whose warmup threw
    * (each also printed by name); their pass-1 order falls back to
    * "unknown cost, last".
    */
  def detailLine(results: Seq[(String, Vector[Double])], reps: Int,
                 sfDir: String, warmFailed: Int = 0): String = {
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def field(f: Vector[Double] => Double): String =
      results.map { case (k, ts) =>
        "\"" + k + "\":" + f"${if (ts.isEmpty) -1.0 else f(ts)}%.3f"
      }.mkString("{", ",", "}")
    val longQs = field(median)
    val mins = field(_.min)
    val spread = field(ts => ts.max - ts.min)
    val repCounts = results.map { case (k, ts) => "\"" + k + "\":" + ts.size }
      .mkString("{", ",", "}")
    s"""[bench-detail] {"queries":$longQs,"min":$mins,"spread":$spread,""" +
      s""""n":$repCounts,"reps":$reps,"sf":"$sfDir","warm_failed":$warmFailed}"""
  }

  /** The stdout budget: the harness that collects this output keeps only
    * the TAIL of stdout (observed: last 2000 chars), so the single JSON
    * line must stay well under that even with sbt's trailing "[success]"
    * line after it.
    */
  val StdoutBudget = 1800

  /** Renders the ONE stdout JSON line, provably under [[StdoutBudget]]
    * for any number of queries.
    *
    * Round 15 post-mortem: the previous precision-only fallback (2 → 1 →
    * 0 decimals) bottomed out at 1801–1802 chars for 156 queries — one
    * character over budget — and the `require` crashed the driver's bench
    * after 25 minutes of measurement. Precision tweaks shrink each entry
    * but the per-query floor (`"qNNN":N,` = 9+ chars) still grows
    * linearly, so no precision level is bounded in the query count.
    *
    * The fix adds FOLD levels: queries whose median falls under a cutoff
    * collapse into two aggregate fields `"fast_n"` (count) and
    * `"fast_total"` (summed seconds), and all-reps failures collapse into
    * `"fail_n"`. Cutoffs escalate (0.5 s → 1 → 2 → 5 → 10 → ∞); the final
    * level folds EVERY query, leaving a fixed-size line (~130 chars)
    * regardless of suite size — the bound is structural, not empirical.
    * Slow queries (the ones the 2× bar is graded on) stay individually
    * visible at every level that fits; full 3-decimal per-query detail is
    * always on stderr as `[bench-detail]`.
    *
    * A non-zero `deadlineHit` (queries whose later reps were skipped by
    * the wall-clock deadline — round 18) appends a fixed-size
    * `"deadline_hit":N` field at every level, so a time-degraded run is
    * visible in the official scoreboard itself, not just on stderr.
    *
    * Round 19 adds three scoreboard-fidelity fields:
    *   - `"planned_reps":K` (fixed-size, only when K differs from the
    *     configured reps) — the rep budget the post-pass-1 planner
    *     settled on, so a degraded run SAYS how many base passes its
    *     medians carry instead of leaving it to forensics;
    *   - `"min_total":N` (fixed-size, when any query succeeded) — the
    *     suite total over per-query MINS, the noise-robust comparator
    *     (three r16 same-code series spread 17% on medians while mins
    *     landed within ~1.1×), so round-over-round calls don't need
    *     the stderr detail line;
    *   - a per-query `"min":{...}` object when reps >= 2 AND it fits
    *     the budget alongside the medians (it folds away first — the
    *     median map always wins the space contest).
    *
    * Round 20 adds two more fixed-or-bounded-size fields:
    * `"contention_index"` (median of the spread-out CPU probes over
    * the quiet constant — present whenever a probe ran, so a degraded
    * run's absolutes carry their own host-tenancy disclaimer) and
    * `"stage_cached":[...]` (short keys of queries whose timed reps
    * read a pre-built StageCache frame — bounded by the count of
    * caching gates, not the suite size — so cache-served numbers are
    * never mistaken for full recomputes).
    *
    * @param meds short-key → median seconds; -1 marks an all-reps failure
    * @param mins short-key → min seconds (same keys); Nil omits the
    *             per-query min object entirely
    * @param contention median-probe/quiet ratio; negative omits the field
    * @param stageCached short keys of StageCache-served queries; Nil omits
    */
  def renderLine(meds: Seq[(String, Double)], total: Double,
                 reps: Int, sfNum: Double, deadlineHit: Int = 0,
                 plannedReps: Int = -1,
                 mins: Seq[(String, Double)] = Nil,
                 contention: Double = -1.0,
                 stageCached: Seq[String] = Nil): String = {
    def fmt(v: Double): String =
      if (v >= 10) f"$v%.0f" else if (v >= 1) f"$v%.1f" else f"$v%.2f"
    // precision-only levels first (keep full per-query detail while it fits)
    def mapAt(level: Int, kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) =>
        val s = level match {
          case 0 => f"$v%.2f"
          case 1 => if (v >= 1) f"$v%.1f" else f"$v%.2f"
          case _ => fmt(v)
        }
        "\"" + k + "\":" + s
      }.mkString("{", ",", "}")
    def foldedAt(cutoff: Double): String = {
      val (failed, ok) = meds.partition(_._2 < 0)
      val (fast, slow) = ok.partition(_._2 < cutoff)
      val slowEntries = slow.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      val aggEntries = Seq(
        "\"fast_n\":" + fast.size,
        f""""fast_total":${fast.map(_._2).sum}%.1f""") ++
        (if (failed.nonEmpty) Seq("\"fail_n\":" + failed.size) else Nil)
      (slowEntries ++ aggEntries).mkString("{", ",", "}")
    }
    val okMins = mins.filter(_._2 >= 0)
    val minTotal =
      if (okMins.isEmpty) ""
      else f""","min_total":${okMins.map(_._2).sum}%.3f"""
    val planned =
      if (plannedReps > 0 && plannedReps != reps)
        s""","planned_reps":$plannedReps"""
      else ""
    // contention_index: fixed-size, always present when a probe ran —
    // ~1 means the absolutes are round-over-round comparable, >>1
    // means host tenancy inflated them and only minima should be read
    val cIdxField =
      if (contention >= 0) f""","contention_index":$contention%.2f""" else ""
    // stage_cached: short keys of queries whose timed reps were served
    // a pre-built StageCache frame — bounded by the count of caching
    // gates (7 today), not the suite size
    val cachedField =
      if (stageCached.isEmpty) ""
      else stageCached.map("\"" + _ + "\"")
        .mkString(""","stage_cached":[""", ",", "]")
    def lineWith(qs: String, minObj: String = ""): String = {
      val dl = if (deadlineHit > 0) s""","deadline_hit":$deadlineHit""" else ""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs""" +
        f"""$minObj,"reps":$reps$planned$minTotal$cIdxField$cachedField$dl,"sf":$sfNum%.3f}"""
    }
    // richest-first: per-query min rides along at each precision level
    // when reps carry one and the line still fits; it is the first
    // thing dropped, the median map the last
    val withMin = reps >= 2 && mins.nonEmpty
    val candidates =
      (0 to 2).iterator.flatMap { l =>
        val base = lineWith(mapAt(l, meds))
        if (withMin)
          Iterator(lineWith(mapAt(l, meds), s""","min":${mapAt(l, mins)}"""),
            base)
        else Iterator(base)
      } ++
        Seq(0.5, 1.0, 2.0, 5.0, 10.0, Double.MaxValue).iterator
          .map(c => lineWith(foldedAt(c)))
    candidates.find(_.length < StdoutBudget)
      .getOrElse(lineWith(foldedAt(Double.MaxValue)))
  }
}
