package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingTa
import graft.ta.{registry, IndicatorSpec}

/** The streaming coverage CONTRACT (round-10 verdict item #3): which of
  * the registry kinds stream is an asserted list, not archaeology. The
  * set is computed from the live dispatch (StreamingTa.streamKernel), so
  * this spec fails when
  *  - a new registry kind silently does not stream (missing), or
  *  - a new stream path forgets to update the declared list (undeclared),
  *  - a kind streams through anything but its batch plan without being
  *    declared here (a hand-written twin).
  * The README "streaming coverage" table is generated from the same
  * declared list — keep the two in sync when this spec changes.
  */
class StreamingCoverageSpec extends AnyFunSuite {

  /** The declared streamable set — EVERY registry kind except the
    * lookahead ops (ichimoku forward spans, centered dpo), the
    * whole-frame / batch-shaped ops (tos_stdevall, vwap anchor modes
    * aside — plain vwap streams), and the signal utils that take
    * arbitrary column pairs (long_run/short_run/tsignals/xsignals —
    * streamable through their consumers like amat/aobv). Round 11 adds
    * the six cdl_pattern* flag batches (61 TA-Lib patterns). */
  private val declared: Set[String] = Set(
    // every kind below but jma and fixed-reference cusum streams its
    // batch plan; the family comments say where each came from
    // W-class rolling kinds
    "sma", "wma", "stdev", "zscore", "mom", "roc",
    "midpoint", "midprice", "willr", "linreg",
    // seeded-EW folds
    "ema", "rsi", "dema", "tema", "macd",
    // Wilder composites (round 10)
    "atr", "natr", "trix", "tsi", "adx", "stoch", "bbands", "kc",
    // REC kinds (cusum = fixed-reference mode)
    "psar", "supertrend", "ha", "mcgd", "kalman", "cusum", "ssf", "hwma",
    "rsx", "ebsw", "hwc", "jma", "fisher", "td_seq", "hilo", "qqe",
    // ELEM / 1-lag kinds (round 10)
    "hl2", "hlc3", "ohlc4", "wcp", "bop", "true_range", "pvol", "pvr",
    "pdist", "slope", "log_return", "percent_return", "increasing", "decreasing",
    // CUM kinds (round 10)
    "vwap", "obv", "ad", "pvt", "nvi", "pvi", "drawdown",
    // rolling-window kinds (round 10)
    "alma", "fwma", "pwma", "swma", "sinwma", "hma", "trima",
    "variance", "median", "quantile", "mad", "skew", "kurtosis",
    "geometric_mean", "entropy",
    "cmo", "er", "psl", "vhf", "cg", "cfo", "cti", "coppock",
    "qstick", "ttm_trend", "cci", "ao", "apo", "ppo", "bias", "vwma",
    "donchian", "accbands", "chop", "vortex", "ui", "uo", "brar", "aroon",
    "eom", "mfi", "cmf",
    // recursive kinds (round 10)
    "zlma", "t3", "pvo", "adosc", "efi", "pgo", "kama", "vidya", "dm", "decay",
    // multi-stage composites (round 10, final wave)
    "massi", "rvi", "thermo", "cksp", "amat", "kdj", "rvgi", "smi",
    "squeeze", "squeeze_pro", "stc", "inertia", "aobv", "kvo", "stochrsi",
    // single candle kinds
    "cdl_doji", "cdl_inside", "cdl_z", "candle_utils",
    // the 61-flag cdl_pattern* batches (round 11)
    "cdl_pattern", "cdl_pattern_2", "cdl_pattern_3", "cdl_pattern_4",
    "cdl_pattern_5", "cdl_pattern_6"
  )

  test("streamableKinds equals the declared contract, exactly") {
    TestSpark.spark
    val actual = StreamingTa.streamableKinds
    val missing = declared -- actual
    val undeclared = actual -- declared
    assert(
      missing.isEmpty && undeclared.isEmpty,
      s"streaming coverage drifted: missing=${missing.toSeq.sorted.mkString(",")} " +
        s"undeclared=${undeclared.toSeq.sorted.mkString(",")}"
    )
  }

  /** The kinds that stream WITHOUT their batch plan: the two batch runs
    * as REC kernels (no window fold expresses them). Every other declared
    * kind is evaluated from its batch plan, so it has one streaming path
    * and cannot drift from batch. */
  private val kernelStreamed: Set[String] = Set("jma", "cusum")

  private def spec(k: String) =
    if (k == "cusum") IndicatorSpec(k, Map("mu" -> 0.0, "sd" -> 1.0)) else IndicatorSpec(k)

  test("every declared kind dispatches to a kernel with a non-empty output schema") {
    TestSpark.spark
    declared.foreach { k =>
      val sk = StreamingTa.streamKernel(spec(k))
      assert(sk.isDefined, s"$k declared streamable but streamKernel does not take it")
      assert(sk.get.outs.nonEmpty, s"$k streams but declares no output fields")
    }
  }

  test("only jma and fixed-reference cusum stream without their batch plan") {
    TestSpark.spark
    val notPlan = declared.filterNot(k => StreamingTa.streamKernel(spec(k)).get.planDriven)
    assert(notPlan == kernelStreamed, s"kinds streaming without their batch plan: ${notPlan.toSeq.sorted}")
  }

  test("every declared kind is a registry kind (no phantom coverage)") {
    val reg = registry.indicators.toSet
    val phantom = declared -- reg
    assert(phantom.isEmpty, s"declared streamable but not in the registry: $phantom")
  }

  test("strategyStream rejects non-streamable specs and duplicate outputs with clear errors") {
    import graft.ta.Strategy
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val ticks = spark0.emptyDataset[StreamingTa.BarTick]
    val e1 = intercept[IllegalArgumentException](
      StreamingTa.strategyStream(ticks, Strategy("s", Seq(IndicatorSpec("tos_stdevall"))))
    )
    assert(e1.getMessage.contains("no streaming form"))
    val e2 = intercept[IllegalArgumentException](
      StreamingTa.strategyStream(
        ticks,
        Strategy("s", Seq(IndicatorSpec("sma", Map("length" -> 10)), IndicatorSpec("sma", Map("length" -> 10))))
      )
    )
    assert(e2.getMessage.contains("duplicate output columns"))
  }
}
