package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-12 verdict item #2: the bench adjudicates its own scatter —
  * probe selection is DATA-DRIVEN (every query regressed >1.4x vs the
  * prior committed artifact joins the fixed worst-5 headliners in the
  * fresh-JVM probe), and the artifact carries prev/inshard/fresh plus a
  * mechanical verdict per mover. These pin the selection and the
  * baseline parser; the end-to-end artifact shape rides the real round
  * bench. */
class BenchProbeSpec extends AnyFunSuite {

  private def artifact(qs: Map[String, Double]): String = {
    val body = qs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"metric":"total","value":1.0,"fresh_probe":{"x":9.9},"queries":{$body},"sf":"sf0.1"}"""
  }

  test("priorQueries parses a full artifact and ignores subset/garbage files") {
    val full = (1 to 60).map(i => s"q$i" -> i * 0.01).toMap
    val f1 = Files.createTempFile("bench_prior", ".json")
    Files.writeString(f1, artifact(full))
    val parsed = Bench.priorQueries(f1.toString)
    assert(parsed.size == 60 && parsed("q7") == 0.07)

    // a subset run's artifact (< 50 queries) must NOT become a baseline
    val f2 = Files.createTempFile("bench_prior_sub", ".json")
    Files.writeString(f2, artifact(Map("a" -> 1.0, "b" -> 2.0)))
    assert(Bench.priorQueries(f2.toString).isEmpty)

    val f3 = Files.createTempFile("bench_prior_bad", ".json")
    Files.writeString(f3, "not json at all")
    assert(Bench.priorQueries(f3.toString).isEmpty)
    assert(Bench.priorQueries("/nonexistent/path.json").isEmpty)
  }

  test("selectProbe = worst-5 headliners + >1.4x regressions worst-ratio-first, with prev/inshard pairs") {
    // prior: everything ran at 0.1s except the big ones
    val prior = (1 to 60).map(i => s"q$i" -> 0.1).toMap ++
      Map("big1" -> 5.0, "big2" -> 4.0)
    // now: big1/big2 flat (worst by time, NOT regressed), q1 3x, q2 2x,
    // q3 1.5x, q4 1.39x (below threshold), q5 missing from prior
    val timed = scala.collection.mutable.LinkedHashMap[String, Double]()
    (1 to 60).foreach(i => timed(s"q$i") = 0.1)
    timed("big1") = 5.0; timed("big2") = 4.0
    timed("q1") = 0.3; timed("q2") = 0.2; timed("q3") = 0.15; timed("q4") = 0.139
    timed("new_query") = 0.12

    val (probe, vsPrior) = Bench.selectProbe(timed, prior)
    // headliners: the 5 worst by time — big1, big2 then three of the 0.3/0.2/0.15 tier
    assert(probe.take(2).toSet == Set("big1", "big2"))
    // regressions ordered by ratio: q1 (3x), q2 (2x), q3 (1.5x); q4 under
    // the 1.4x gate; new_query has no baseline
    assert(probe.contains("q1") && probe.contains("q2") && probe.contains("q3"))
    assert(!probe.contains("q4") && !probe.contains("new_query"))
    // each auto-probed mover carries (prev, inshard) for the artifact
    assert(vsPrior("q1") == ((0.1, 0.3)))
    assert(vsPrior("q2") == ((0.1, 0.2)))
    // no duplicates even when a regression is also a headliner
    assert(probe.distinct.size == probe.size)
  }

  test("calibration: positive, repeatable-ish, and parsed back from a prior artifact") {
    val c1 = Bench.calibrate()
    assert(c1 > 0.0 && c1 < 30.0, s"calibration out of range: $c1")

    val f = Files.createTempFile("bench_cal", ".json")
    Files.writeString(f, s"""{"metric":"total","cal_sec":0.412,"queries":{"a":1}}""")
    assert(Bench.priorCal(f.toString).contains(0.412))
    // artifacts predating the calibration field -> None (verdict falls
    // back to the absolute rule)
    val f2 = Files.createTempFile("bench_cal_none", ".json")
    Files.writeString(f2, s"""{"metric":"total","queries":{"a":1}}""")
    assert(Bench.priorCal(f2.toString).isEmpty)
  }

  test("selectProbe with no baseline degrades to the classic worst-5") {
    val timed = scala.collection.mutable.LinkedHashMap(
      "a" -> 5.0, "b" -> 4.0, "c" -> 3.0, "d" -> 2.0, "e" -> 1.0, "f" -> 0.5)
    val (probe, vsPrior) = Bench.selectProbe(timed, Map.empty)
    assert(probe == Seq("a", "b", "c", "d", "e"))
    assert(vsPrior.isEmpty)
  }

  // ---------------------------------------------------------------- round 13

  test("calibratePar: positive, and parsed back via priorCalPar") {
    val c = Bench.calibratePar(4)
    assert(c > 0.0 && c < 60.0, s"parallel calibration out of range: $c")
    val f = Files.createTempFile("bench_calpar", ".json")
    Files.writeString(f, s"""{"metric":"total","cal_sec":0.2,"cal_par_sec":0.911,"queries":{"a":1}}""")
    assert(Bench.priorCalPar(f.toString).contains(0.911))
    assert(Bench.priorCal(f.toString).contains(0.2))
    // pre-round-13 artifact: no parallel field
    val f2 = Files.createTempFile("bench_calpar_none", ".json")
    Files.writeString(f2, s"""{"metric":"total","cal_sec":0.2,"queries":{"a":1}}""")
    assert(Bench.priorCalPar(f2.toString).isEmpty)
  }

  test("resolveDrift: MAX of clamped cal/cal_par/suite estimates, basis stamped") {
    // the round-12 failure shape: single-core loop reads 1.12x while the
    // 32-way suite runs 1.45x slower — the resolved drift must follow the
    // larger multi-core signal, not the pinned-core one
    val timed = scala.collection.mutable.LinkedHashMap(
      (1 to 30).map(i => s"q$i" -> 0.145): _*)
    val prior = (1 to 30).map(i => s"q$i" -> 0.1).toMap
    val (basis, drift, cal, par, suite) = Bench.resolveDrift(
      calSec = 0.205, calPrev = Some(0.183),
      calPar = 0.95, calParPrev = Some(0.65),
      timed = timed, prior = prior)
    assert(cal.exists(v => math.abs(v - 0.205 / 0.183) < 1e-9))
    assert(par.exists(v => math.abs(v - 0.95 / 0.65) < 1e-9))
    assert(suite.exists(v => math.abs(v - 1.45) < 1e-9))
    assert(basis == "cal_par" && math.abs(drift - 0.95 / 0.65) < 1e-9)

    // clamp: a wild estimate cannot disable the gate (a genuine 10x
    // regression at max drift: prev*1.25*2.0 << prev*10 stays "real")
    val (_, d2, _, _, _) = Bench.resolveDrift(10.0, Some(0.1), 0.0, None, timed, Map.empty)
    assert(d2 == 2.0)

    // no basis at all (first calibrated round / child artifacts) -> 1.0
    val (b3, d3, _, _, _) =
      Bench.resolveDrift(0.2, None, 0.9, None, scala.collection.mutable.LinkedHashMap[String, Double](), Map.empty)
    assert(b3 == "none" && d3 == 1.0)

    // suite median needs >= 10 shared queries; 9 is not a basis
    val few = scala.collection.mutable.LinkedHashMap((1 to 9).map(i => s"q$i" -> 0.2): _*)
    val (_, _, _, _, s4) = Bench.resolveDrift(0.0, None, 0.0, None, few, (1 to 9).map(i => s"q$i" -> 0.1).toMap)
    assert(s4.isEmpty)
  }

  test("priorQueries: balanced string-aware scan survives nesting, minSize adapts for suite subsets") {
    // a future artifact where "queries" is no longer the last-ish flat
    // map and values contain braces in names must still parse
    val qs = (1 to 55).map(i => s""""q{$i}":${i * 0.01}""").mkString(",")
    val f = Files.createTempFile("bench_nested", ".json")
    Files.writeString(f, s"""{"metric":"total","queries":{$qs},"after":{"x":{"y":1}}}""")
    val parsed = Bench.priorQueries(f.toString)
    assert(parsed.size == 55 && math.abs(parsed("q{7}") - 0.07) < 1e-9)

    // BENCH_sf1 sidecar shape: 20-query suite, minSize = 15 accepts it
    val qs20 = (1 to 20).map(i => s""""q$i":${i * 0.01}""").mkString(",")
    val f2 = Files.createTempFile("bench_suite", ".json")
    Files.writeString(f2, s"""{"metric":"total","queries":{$qs20}}""")
    assert(Bench.priorQueries(f2.toString).isEmpty) // default 50: rejected
    assert(Bench.priorQueries(f2.toString, minSize = 15).size == 20)
  }

  // ---------------------------------------------------------------- round 14

  test("probeMargin: additive noise floor absorbs sub-second scatter, 10x regressions still trip") {
    // multiplicative term dominates for expensive queries
    assert(math.abs(Bench.probeMargin(5.0, 1.0) - 6.25) < 1e-9)
    // floor dominates for sub-second queries: the r13 false-real shape
    // (rsi_10 fresh 0.249 vs pure-multiplicative margin 0.245) is inside
    // the floored margin prev + 0.15
    val rsiMargin = Bench.probeMargin(0.196, 1.0)
    assert(rsiMargin >= 0.196 + 0.15 - 1e-9 && 0.249 <= rsiMargin)
    // a genuine 10x regression on a 0.1 s query still reads over margin
    assert(1.0 > Bench.probeMargin(0.1, 2.0))
    // drift still scales the multiplicative side
    assert(math.abs(Bench.probeMargin(5.0, 2.0) - 12.5) < 1e-9)
  }

  test("probeChannelStats + channelSuspect: headliner controls adjudicate the probe child itself") {
    val controls = Seq("h1", "h2", "h3", "h4", "h5")
    val priorFresh = Map("h1" -> 1.0, "h2" -> 2.0, "h3" -> 4.0, "h4" -> 0.5, "h5" -> 3.0)
    def spikeMax(p: Map[String, Double], movers: Set[String] = Set.empty) =
      Bench.controlSpikeMax(p, priorFresh, controls, movers)
    // clean channel: all controls near their committed fresh values
    val clean = Map("h1" -> 1.05, "h2" -> 1.9, "h3" -> 4.2, "h4" -> 0.55, "h5" -> 2.8)
    val sClean = Bench.probeChannelStats(clean, priorFresh, controls)
    assert(sClean.exists { case (med, mx) => med < 1.2 && mx < 1.2 })
    assert(!Bench.channelSuspect(sClean, spikeMax(clean)))
    // broad perturbation (concurrent JVM for the whole probe): median > 1.4
    val broad = clean.view.mapValues(_ * 1.8).toMap
    assert(Bench.channelSuspect(Bench.probeChannelStats(broad, priorFresh, controls), spikeMax(broad)))
    // spike perturbation (the r13 driver shape: x_pagerank fresh 10.31 vs
    // committed band 3.2-4.0 while other controls were fine): max > 2.5
    // on a NON-MOVER control
    val spike = clean + ("h3" -> 11.6)
    val sSpike = Bench.probeChannelStats(spike, priorFresh, controls)
    assert(sSpike.exists { case (med, mx) => med < 1.4 && mx > 2.5 })
    assert(Bench.channelSuspect(sSpike, spikeMax(spike)))
    // ADVICE r14: the same spike on a control that IS itself a vsPrior
    // mover must NOT poison the channel — a genuine >2.5x headliner
    // regression would otherwise demote its own "real" verdict to
    // "real-suspect-channel" (self-masking). Median rule still guards
    // broad perturbation; here the other 4 controls are clean.
    val moverSpike = spikeMax(spike, movers = Set("h3"))
    assert(moverSpike.exists(_ < 2.5)) // max over h1,h2,h4,h5 only
    assert(!Bench.channelSuspect(sSpike, moverSpike))
    // ...and the broad rule still fires even when every control moves
    // and all are movers (spike max empty, median > 1.4)
    assert(Bench.channelSuspect(Bench.probeChannelStats(broad, priorFresh, controls),
      spikeMax(broad, movers = controls.toSet)))
    // fewer than 3 matched controls -> no channel STATS (median rule off:
    // first calibrated round, or a prior artifact without fresh_probe) —
    // but the spike rule still stands on whatever non-mover controls DO
    // match (ADVICE r15: this is deliberate — one control reading >2.5x
    // its committed fresh value is not host speed regardless of how many
    // siblings it has — and the artifact now emits probe_suspect +
    // probe_channel_spike_max unconditionally whenever spikeMax exists,
    // so a suspect verdict is always explained in-artifact)
    val twoPrior = Map("h1" -> 1.0, "h2" -> 2.0)
    assert(Bench.probeChannelStats(clean, twoPrior, controls).isEmpty)
    assert(!Bench.channelSuspect(None, None))
    // 2 matched controls, both clean -> spikeMax defined, not suspect
    assert(!Bench.channelSuspect(None, Bench.controlSpikeMax(clean, twoPrior, controls, Set.empty)))
    // 2 matched controls, one spiking 3x -> suspect even without stats
    assert(Bench.channelSuspect(None,
      Bench.controlSpikeMax(clean + ("h2" -> 6.0), twoPrior, controls, Set.empty)))
    // a single genuine headliner regression below the spike bound does
    // NOT poison the channel (median robust to one mover)
    val oneReal = clean + ("h2" -> 4.5) // 2.25x: real-looking but < 2.5
    assert(!Bench.channelSuspect(Bench.probeChannelStats(oneReal, priorFresh, controls), spikeMax(oneReal)))
  }

  test("foreignHeavyCount: non-java processes over half a core flag; java/self/idle do not") {
    // r15 round-16 rule: two 100%-CPU python processes ran through the
    // whole driver bench window undetected by the jvm-count/loadavg
    // guard. Ticks are USER_HZ=100; 1 s elapsed, so 100 ticks = 1 core.
    val before = Map(
      1L -> ("python3", 1000L), // busy foreign: +90 ticks in 1 s = 0.9 core
      2L -> ("java", 500L),     // busy java: covered by the jvm-count guard
      3L -> ("python3", 200L),  // idle foreign: +5 ticks = 0.05 core
      4L -> ("python3", 300L),  // self (the measuring process)
      5L -> ("duckdb", 0L)      // busy foreign, different comm
    )
    val after = Map(
      1L -> ("python3", 1090L), 2L -> ("java", 600L), 3L -> ("python3", 205L),
      4L -> ("python3", 400L), 5L -> ("duckdb", 80L),
      6L -> ("python3", 50L) // appeared mid-sample: no before -> not counted
    )
    assert(Bench.foreignHeavyCount(before, after, 1.0, selfPid = 4L) == 2) // pids 1, 5
    // threshold is a strict >: exactly 0.5 core does not flag
    assert(Bench.foreignHeavyCount(Map(1L -> ("python3", 0L)), Map(1L -> ("python3", 50L)), 1.0, 99L) == 0)
    // degenerate elapsed never divides by zero
    assert(Bench.foreignHeavyCount(before, after, 0.0, 4L) == 0)
  }

  test("loadEndGate: gates only above cpus/2 — own-shard decay must not false-flag") {
    // committed CLEAN rounds read load_end 8.56 and 9.74 on the 32-cpu
    // box (our own just-released shards' 1-min decay) — the start
    // threshold (cpus/4 = 8) would have false-flagged them, so the end
    // gate sits at cpus/2 = 16
    assert(!Bench.loadEndGate(9.74, 32))
    assert(!Bench.loadEndGate(15.9, 32))
    assert(Bench.loadEndGate(16.1, 32))
  }

  test("memoryPressureSignature: fast cal loops + slow suite = external DRAM pressure") {
    // the r15 shape: suite 1.441 while cal 0.894 / cal_par 0.972 under a
    // resident 20 GB foreign numpy job — cache-resident loops can't see
    // memory-bandwidth saturation, the DRAM-bound suite can
    assert(Bench.memoryPressureSignature(Some(0.894), Some(0.972), Some(1.441)))
    // suite slow but a cal loop also slow: host drift, not the signature
    assert(!Bench.memoryPressureSignature(Some(1.3), Some(0.972), Some(1.441)))
    assert(!Bench.memoryPressureSignature(Some(0.894), Some(1.2), Some(1.441)))
    // suite within band: nothing to explain
    assert(!Bench.memoryPressureSignature(Some(0.894), Some(0.972), Some(1.25)))
    // any basis missing -> cannot fire (children have no suite basis;
    // first calibrated round has no loops)
    assert(!Bench.memoryPressureSignature(None, Some(0.9), Some(1.5)))
    assert(!Bench.memoryPressureSignature(Some(0.9), None, Some(1.5)))
    assert(!Bench.memoryPressureSignature(Some(0.9), Some(0.9), None))
  }

  test("priorFreshProbe parses the committed fresh_probe block; absent/garbage -> empty") {
    val f = Files.createTempFile("bench_fresh", ".json")
    Files.writeString(f,
      s"""{"metric":"total","fresh_probe":{"x_pagerank":3.610,"x_corr_matrix":134.582},"queries":{"a":1}}""")
    val m = Bench.priorFreshProbe(f.toString)
    assert(m.size == 2 && math.abs(m("x_pagerank") - 3.61) < 1e-9)
    val f2 = Files.createTempFile("bench_fresh_none", ".json")
    Files.writeString(f2, s"""{"metric":"total","queries":{"a":1}}""")
    assert(Bench.priorFreshProbe(f2.toString).isEmpty)
    assert(Bench.priorFreshProbe("/nonexistent/path.json").isEmpty)
  }

  test("suiteUncorroborated: suite-basis verdicts qualified when no loop estimate corroborates (ADVICE r13)") {
    // BENCH_sf1 r13 shape: suite 1.282 chosen while both loops read FAST
    // (0.887 / 0.700) -> uncorroborated, ambient verdicts get qualified
    assert(Bench.suiteUncorroborated("suite", 1.282, Some(0.887), Some(0.700)))
    // suite chosen but within 15% of a loop basis -> corroborated
    assert(!Bench.suiteUncorroborated("suite", 1.30, Some(1.20), Some(1.15)))
    // loop basis chosen -> never qualified
    assert(!Bench.suiteUncorroborated("cal_par", 1.46, Some(1.12), Some(1.46)))
    // suite is the ONLY basis (prior artifact predates calibration)
    assert(Bench.suiteUncorroborated("suite", 1.05, None, None))
  }

  test("resolveSuite: unknown suite names surface instead of silently shrinking the run (ADVICE r13)") {
    val known = Set("q1_agg", "x_pagerank", "x_corr_matrix")
    val (names, unknown) = Bench.resolveSuite(Some(Set("x_pagerank", "x_pagernak", "q1_agg")), known)
    assert(names == Seq("q1_agg", "x_pagerank"))
    assert(unknown == Seq("x_pagernak"))
    // no suite -> full run, nothing unknown
    val (all, none) = Bench.resolveSuite(None, known)
    assert(all == known.toSeq.sorted && none.isEmpty)
  }

  test("moverVerdict: qualifiers fire only when the verdict depends on them") {
    // inside the no-drift margin -> plain ambient even on a suite-only day
    // (the r14 full-run shape: suite basis 1.36, loops 1.0, all movers'
    // fresh readings at/below prior)
    assert(Bench.moverVerdict(prev = 2.0, fresh = 2.3, drift = 1.36, "suite", suiteOnly = true, suspect = false) == "ambient")
    // needs the suite-inflated margin to pass -> qualified
    assert(Bench.moverVerdict(2.0, 3.0, 1.36, "suite", suiteOnly = true, suspect = false) == "ambient-suite-only")
    // same reading with a corroborated basis -> plain ambient
    assert(Bench.moverVerdict(2.0, 3.0, 1.36, "cal_par", suiteOnly = false, suspect = false) == "ambient")
    // over every margin: real on a clean channel, qualified on a suspect one
    assert(Bench.moverVerdict(2.0, 9.0, 1.36, "suite", suiteOnly = true, suspect = false) == "real")
    assert(Bench.moverVerdict(2.0, 9.0, 1.36, "suite", suiteOnly = true, suspect = true) == "real-suspect-channel")
    assert(Bench.moverVerdict(2.0, 9.0, 1.0, "none", suiteOnly = false, suspect = false) == "real-uncalibrated")
    // the noise floor rides inside: sub-second scatter is ambient
    assert(Bench.moverVerdict(0.196, 0.249, 1.0, "cal", suiteOnly = false, suspect = false) == "ambient")
  }

  // ---------------------------------------------------------------- round 15

  test("moverVerdict drift<1: a fast-host day shrinks the margin, never widens it (r14 verdict #2)") {
    // the exact r14 driver-artifact shape: drift resolved 0.916 (suite
    // basis), x_surprisal2 prev 1.157 / fresh 1.342 — over the shrunken
    // margin max(1.157*1.25*0.916, 1.307)=1.325, inside the no-drift
    // margin 1.446. The old fast path read it ambient while the header
    // counted it over margin (probe_real:1, all verdicts ambient). Now
    // the reading falls through to "real" and both agree.
    assert(Bench.probeMargin(1.157, 0.916) < 1.342 && 1.342 < Bench.probeMargin(1.157, 1.0))
    assert(Bench.moverVerdict(1.157, 1.342, 0.916, "suite", suiteOnly = false, suspect = false) == "real")
    // same reading inside the shrunken margin stays ambient
    assert(Bench.moverVerdict(1.157, 1.30, 0.916, "suite", suiteOnly = false, suspect = false) == "ambient")
    // drift >= 1 unchanged: fast path still keys off the no-drift margin
    assert(Bench.moverVerdict(2.0, 2.3, 1.36, "suite", suiteOnly = true, suspect = false) == "ambient")
  }

  test("moverCounts: probe_real header counts derive from the verdicts — divergence impossible") {
    // the r14 contradiction replayed through the shared path: one real
    // mover at drift 0.916 plus one ambient mover
    val verdicts = Seq(
      Bench.moverVerdict(1.157, 1.342, 0.916, "suite", suiteOnly = false, suspect = false), // real
      Bench.moverVerdict(2.0, 2.1, 0.916, "suite", suiteOnly = false, suspect = false))     // ambient
    assert(Bench.moverCounts(verdicts) == ((1, 0)))
    assert(verdicts.count(_.startsWith("real")) == 1) // header == verdict block by construction
    // suspect channel: reproductions count as suspect, never as real
    val suspectV = Seq("real-suspect-channel", "ambient", "real-suspect-channel")
    assert(Bench.moverCounts(suspectV) == ((0, 2)))
    // uncalibrated reproductions still count in probe_real (unchanged
    // semantics: nReal was "over margin on a non-suspect channel")
    assert(Bench.moverCounts(Seq("real-uncalibrated", "ambient-suite-only")) == ((1, 0)))
    assert(Bench.moverCounts(Nil) == ((0, 0)))
  }

  test("probeTimeoutMin: budget scales with the probe set's measured cost, floored at 20") {
    val timed = scala.collection.mutable.LinkedHashMap("cheap" -> 0.5, "x_corr_matrix" -> 161.8)
    // cheap probe set: the 20-min floor holds
    assert(Bench.probeTimeoutMin(Seq("cheap"), timed, reps = 3, warmups = 1) == 20L)
    // the BENCH_sf1 shape that killed the r14 probe child: 161.8 s query
    // at 4 executions x2 ~= 22 min of query time alone -> budget > 20
    val b = Bench.probeTimeoutMin(Seq("cheap", "x_corr_matrix"), timed, reps = 3, warmups = 1)
    assert(b >= 27L, s"budget $b")
    // unknown names cost nothing (never crash)
    assert(Bench.probeTimeoutMin(Seq("nope"), timed, 5, 2) == 20L)
  }

  test("priorQueries tolerates the r14 value_excl_panel field and channel/suspect fields") {
    val qs = (1 to 55).map(i => s""""q$i":${i * 0.01}""").mkString(",")
    val f = Files.createTempFile("bench_r14", ".json")
    Files.writeString(f,
      s"""{"metric":"total","value":9.9,"value_excl_panel":5.5,"probe_channel_median":1.02,""" +
        s""""probe_channel_max":1.31,"probe_suspect":false,"suite_unknown":["typo_q"],""" +
        s""""fresh_probe":{"h":1.0},"queries":{$qs},"sf":"sf0.1"}""")
    val parsed = Bench.priorQueries(f.toString)
    assert(parsed.size == 55 && math.abs(parsed("q7") - 0.07) < 1e-9)
    assert(Bench.priorFreshProbe(f.toString) == Map("h" -> 1.0))
  }

  // ---------------------------------------------------------------- round 17

  test("loadEndGate takes HOST cores: an 8-cpu bench run on a 32-core box gates at 16 (r16 verdict #3)") {
    // the r16 8-core scaling run self-stamped contaminated at ambient
    // load 8.37 because the gate read SPARK_GRAFT_CPUS/2 = 4; with host
    // cores (32) the same reading is clean
    assert(Bench.loadEndGate(8.37, 8))   // the old, wrong call shape
    assert(!Bench.loadEndGate(8.37, 32)) // the host-core call the bench now makes
  }

  test("reprobeVerdict: real survives only when BOTH fresh probes reproduce (r16 verdict #1)") {
    val prev = 1.37; val drift = 0.948
    val margin = Bench.probeMargin(prev, drift) // 1.37+0.15 floor
    // the r16 driver shape: x_ann_ivfpq_topk fresh 10.77 vs prev 1.37 —
    // a second delayed probe at its clean 0.8 s band demotes it
    assert(Bench.reprobeVerdict("real", prev, Some(0.80), drift) == "ambient-reprobe")
    // a genuine regression reproduces in the second JVM too -> stands
    assert(Bench.reprobeVerdict("real", prev, Some(10.5), drift) == "real")
    assert(10.5 > margin && 0.80 <= margin)
    // dead re-probe channel: unmeasured, never an unqualified real
    assert(Bench.reprobeVerdict("real", prev, None, drift) == "real-unconfirmed")
    // qualified reals clear the same way, keep their qualifier otherwise
    assert(Bench.reprobeVerdict("real-suspect-channel", prev, Some(0.80), drift) == "ambient-reprobe")
    assert(Bench.reprobeVerdict("real-suspect-channel", prev, Some(10.5), drift) == "real-suspect-channel")
    assert(Bench.reprobeVerdict("real-uncalibrated", prev, None, drift) == "real-unconfirmed")
    // non-real verdicts pass through untouched (no second probe ran)
    assert(Bench.reprobeVerdict("ambient", prev, None, drift) == "ambient")
    assert(Bench.reprobeVerdict("ambient-suite-only", prev, Some(9.9), drift) == "ambient-suite-only")
  }

  test("moverCounts: real-unconfirmed and ambient-reprobe count as suspect/clean, never as real (r17)") {
    assert(Bench.moverCounts(Seq("real-unconfirmed", "ambient-reprobe", "real")) == ((1, 1)))
    assert(Bench.moverCounts(Seq("ambient-reprobe")) == ((0, 0)))
  }

  test("priorCpus/priorCpusMismatch: a prior recorded at another core count is not a baseline (r17)") {
    val f = Files.createTempFile("bench_cpus", ".json")
    Files.writeString(f, s"""{"metric":"total","value":9.9,"cpus":8,"queries":{"a":1.0}}""")
    assert(Bench.priorCpus(f.toString).contains(8))
    // the r16 shape: driver's 8-core artifact vs a 32-core run — discard
    assert(Bench.priorCpusMismatch(Some(8), 32))
    assert(!Bench.priorCpusMismatch(Some(32), 32))
    // legacy artifact without the stamp: accepted (no mismatch evidence)
    assert(!Bench.priorCpusMismatch(None, 32))
    assert(Bench.priorCpus("/nonexistent/path.json").isEmpty)
  }

  test("verdictsFor: the orchestrator's re-probe selection and the artifact block share one pipeline") {
    val vsPrior = Map("a" -> (1.0, 3.0), "b" -> (1.0, 2.0), "c" -> (1.0, 9.0))
    val probed = Map("a" -> 5.0, "b" -> 1.05) // c unmeasured
    val v = Bench.verdictsFor(vsPrior, probed, drift = 1.0, driftBasis = "cal",
      suiteOnly = false, suspect = false)
    assert(v == Map("a" -> "real", "b" -> "ambient")) // c absent, stamped unmeasured downstream
    assert(v.collect { case (n, s) if s.startsWith("real") => n }.toSeq == Seq("a"))
  }

  test("slim stdout line parses as JSON and carries a non-empty per-query map within budget") {
    val qs = (1 to 300).map(i => f"x_query_name_$i%03d" -> i * 0.137)
    val line = Bench.slimLine(
      """{"metric":"total","value":41.100,"unit":"sec","n_ok":300,"n_failed":0,""",
      qs,
      ""","full_artifact":"BENCH_out.json","sf":"/data/sf0.1"}""")
    assert(line.length <= Bench.slimBudget, s"${line.length} bytes")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val queries = json.get("queries")
    assert(queries.isObject && queries.size > 0, line)
    assert(json.get("queries_shown").asInt == queries.size)
    assert(queries.get("x_query_name_001").asDouble == 0.137)
    assert(json.get("full_artifact").asText == "BENCH_out.json")
  }
}
