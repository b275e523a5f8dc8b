package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for Bench's contention handling — the pure pieces of the
  * partial-second-sweep path, driven with fake runners (no SparkSession:
  * the point is the scheduling/merge logic, not query execution).
  *
  * Scenario being guarded: a contended host blows the sweep-1 wall budget
  * (BENCH_r04's 264.9 s artifact, re-measured clean at 58.9 s). The bench
  * must still re-measure as many queries as a bounded time box allows —
  * cheapest-first, where relative contention distortion is largest — and
  * the merged headline must take the min, so the recovered numbers
  * survive into the artifact instead of the all-cold lie.
  */
class BenchSpec extends AnyFunSuite {

  test("anomalyFirst with no record degenerates to cheapest-first; failures at mean cost") {
    val first = Seq("slow" -> 10.0, "fast" -> 0.1, "failed" -> -1.0, "mid" -> 2.0)
    // mean of valid costs = (10 + 0.1 + 2) / 3 ≈ 4.03 → failed sorts
    // between mid and slow: gets a retry without jumping the queue
    assert(Bench.anomalyFirst(first, Map.empty) ==
      Seq("fast", "mid", "failed", "slow"))
  }

  test("anomalyFirst with all-failed sweep keeps input order") {
    val first = Seq("a" -> -1.0, "b" -> -1.0)
    assert(Bench.anomalyFirst(first, Map.empty) == Seq("a", "b"))
  }

  test("anomalyFirst re-measures the worst distortion FIRST, even when expensive") {
    // the round-12 shape: q226 swept at 120.3 s against a 2.14 s steady
    // record (ratio 56) — cheapest-first buried it; anomaly order must
    // put it at the head, ahead of a cheap query with a modest ratio
    val first = Seq(
      "q_cheap_burst" -> 7.0,   // steady 0.3  → ratio ≈ 23
      "q_big_burst"   -> 120.3, // steady 2.14 → ratio ≈ 56  ← must lead
      "q_steady"      -> 0.5,   // steady 0.5  → ratio 1
      "q_new"         -> 0.2)   // no record   → ratio 1, cheap tie-break
    val steady = Map("q_cheap_burst" -> 0.3, "q_big_burst" -> 2.14,
      "q_steady" -> 0.5)
    assert(Bench.anomalyFirst(first, steady) ==
      Seq("q_big_burst", "q_cheap_burst", "q_new", "q_steady"))
  }

  test("burstSuspects labels minima >3× their steady record; no record → never a suspect") {
    val results = Seq("ok" -> 0.5, "burst" -> 9.0, "edge" -> 1.5,
      "new" -> 50.0, "failed" -> -1.0)
    val steady = Map("ok" -> 0.4, "burst" -> 2.0, "edge" -> 0.5,
      "failed" -> 1.0)
    // edge = exactly 3× → NOT a suspect (strictly greater); new has no
    // record; failed (-1) is a failure, not a suspect
    assert(Bench.burstSuspects(results, steady) == Seq("burst"))
  }

  test("parseSteadySection reads one flat sf section; sfKey normalizes dirs") {
    val json = """{"comment":"per-query record (min of finals)",
      |"sf0.1":{"q01_agg":0.51,"q02_filter":1.2e-1},
      |"sf1":{"q01_agg":1.9}}""".stripMargin
    assert(Bench.parseSteadySection(json, "sf0.1") ==
      Map("q01_agg" -> 0.51, "q02_filter" -> 0.12))
    assert(Bench.parseSteadySection(json, "sf1") == Map("q01_agg" -> 1.9))
    assert(Bench.parseSteadySection(json, "sf10") == Map.empty)
    assert(Bench.sfKey("/root/testdata/sf0.1") == "sf0.1")
    assert(Bench.sfKey("/root/repo/testdata-sf1") == "sf1")
  }

  test("the committed steady-state record parses and covers the query surface") {
    val p = java.nio.file.Paths.get("perf/steady_state.json")
    assume(java.nio.file.Files.exists(p), "perf/steady_state.json not present")
    val json = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    for (key <- Seq("sf0.1", "sf1")) {
      val sec = Bench.parseSteadySection(json, key)
      assert(sec.nonEmpty, s"section $key parsed empty")
      assert(sec.values.forall(v => v > 0 && v < 600),
        s"section $key has implausible seconds")
      // the record must cover most of the CURRENT surface, or anomaly
      // ordering silently degrades to cheapest-first for the gap
      val covered = SparkEntry.queries.keySet.count(sec.contains)
      assert(covered >= SparkEntry.queries.size * 8 / 10,
        s"$key record covers $covered of ${SparkEntry.queries.size} queries")
    }
  }

  test("named queries: only they are swept and warmed, and perf/bench_last.json is untouched") {
    val names = SparkEntry.select(Seq("q01_", "q113_"))
    assert(names == Seq("q01_pricing_summary", "q113_funnel"))
    // warm-up covers exactly the selection, whatever the cache size
    for (cache <- Seq("32768", "100", "0"))
      assert(Bench.warmNames(names, fullSurface = false, cache) == names)
    assert(Bench.artifactPaths(fullSurface = false) == Seq("target/bench.json"))
  }

  test("full surface: every query warmed when the codegen cache holds the surface") {
    val all = SparkEntry.select(Nil)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Bench.warmNames(all, fullSurface = true, "32768") == all)
    // a small cache would thrash: warm the representative list instead
    val small = Bench.warmNames(all, fullSurface = true, "100")
    assert(small.nonEmpty && small.size < 20 && small.forall(SparkEntry.queries.contains))
    assert(Bench.artifactPaths(fullSurface = true) ==
      Seq("target/bench.json", "perf/bench_last.json"))
  }

  test("runUntilDeadline skips an unaffordable query but still runs later cheap ones") {
    // anomaly order is not cost-ascending: a cheap steady query can
    // follow an unaffordable real regression — it must still get its
    // min-of-two correction
    var ran = Vector.empty[String]
    val out = Bench.runUntilDeadline(Seq("huge", "cheap"), capSec = 1.0,
      Map("huge" -> 100.0, "cheap" -> 0.01), { name =>
        ran :+= name; 0.01
      })
    assert(out.map(_._1) == Seq("cheap"))
    assert(ran == Vector("cheap"), "the unaffordable query must not start")
  }

  test("runUntilDeadline stops starting queries once the cap elapses") {
    // each fake query burns ~60 ms; a 0.15 s cap admits 2-3 starts, never
    // all 10 — and every started query completes (no partial timings)
    var ran = Vector.empty[String]
    val out = Bench.runUntilDeadline((1 to 10).map(i => s"q$i"), capSec = 0.15,
      Map.empty, { name =>
        ran :+= name; Thread.sleep(60); 0.06
      })
    assert(out.map(_._1) == ran)
    assert(ran.nonEmpty && ran.size < 10)
    assert(ran == (1 to ran.size).map(i => s"q$i"))
  }

  test("runUntilDeadline with a generous cap runs everything in order") {
    val out = Bench.runUntilDeadline(Seq("a", "b", "c"), capSec = 60.0,
      Map.empty, _ => 0.01)
    assert(out.map(_._1) == Seq("a", "b", "c"))
  }

  test("runUntilDeadline never starts a query whose projection overruns the cap") {
    // with time remaining but an expensive straggler next, the cap must
    // hold: the old clock-only check would start a 100 s query at t≈0
    var ran = Vector.empty[String]
    val out = Bench.runUntilDeadline(Seq("cheap", "straggler"), capSec = 1.0,
      Map("cheap" -> 0.01, "straggler" -> 100.0), { name =>
        ran :+= name; 0.01
      })
    assert(out.map(_._1) == Seq("cheap"))
    assert(ran == Vector("cheap"), "the straggler must not start")
  }

  test("mergeMin takes per-query min; unreached queries keep sweep-1; -1 only when all failed") {
    val first = Seq(
      "recovered" -> 7.0,  // contended cold, partial sweep re-measured 0.3
      "unreached" -> 3.0,  // partial sweep never got to it
      "regressed" -> 0.2,  // second measurement slower — min keeps 0.2
      "flaky"     -> -1.0, // failed cold, succeeded on retry
      "dead"      -> -1.0) // failed both times
    val second = Map("recovered" -> 0.3, "regressed" -> 0.5, "flaky" -> 0.4, "dead" -> -1.0)
    assert(Bench.mergeMin(first, second) == Seq(
      "recovered" -> 0.3, "unreached" -> 3.0, "regressed" -> 0.2,
      "flaky" -> 0.4, "dead" -> -1.0))
  }

  test("contentionFlag: wall ratio > 1.4 flags even under budget; partial sweep2 never feeds the ratio") {
    // the round-6 shape: budget never tripped, but sweep 1's wall ran
    // 1.66x sweep 2's — per-query numbers held 10x phantom regressions
    assert(Bench.contentionFlag(budgetTripped = false,
      sweep1Wall = 124.8, sweep2Wall = 75.2, sweep2Full = true))
    // a clean run: near-equal walls stay unflagged
    assert(!Bench.contentionFlag(budgetTripped = false,
      sweep1Wall = 80.0, sweep2Wall = 75.0, sweep2Full = true))
    // boundary: exactly 1.4 is not "over"
    assert(!Bench.contentionFlag(budgetTripped = false,
      sweep1Wall = 140.0, sweep2Wall = 100.0, sweep2Full = true))
    // budget tripped flags regardless of the (partial, incomparable) walls
    assert(Bench.contentionFlag(budgetTripped = true,
      sweep1Wall = 200.0, sweep2Wall = 10.0, sweep2Full = false))
    // partial sweep 2 with a skewed ratio but no budget trip: the ratio
    // of different query sets is meaningless and must not flag
    assert(!Bench.contentionFlag(budgetTripped = false,
      sweep1Wall = 100.0, sweep2Wall = 10.0, sweep2Full = false))
  }
}
