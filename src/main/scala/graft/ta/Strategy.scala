package graft.ta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Ta._

/** Batch-of-indicators surface (reference: pandas_ta/core.py `Strategy`
  * dataclass + `df.ta.strategy()`; SURVEY §2.C).
  *
  * The reference parallelizes with a multiprocessing pool that pickles the
  * whole frame per indicator. Here a Strategy COMPILES into one lazy
  * DataFrame: every spec appends window expressions over the same
  * (series_id, ts) spec, so Catalyst plans the entire batch as ONE
  * Exchange + Sort with consecutive WindowExecs (PlanShapeSpec proves the
  * single shuffle) — cluster parallelism comes from partitioning, not
  * process pools.
  */
final case class IndicatorSpec(kind: String, params: Map[String, Any] = Map.empty)

final case class Strategy(name: String, ta: Seq[IndicatorSpec], description: String = "")

object Strategy {

  /** Mirrors the reference CommonStrategy (sma10/20/50, macd, rsi). */
  val Common: Strategy = Strategy(
    "Common Price and Volume SMAs",
    Seq(
      IndicatorSpec("sma", Map("length" -> 10)),
      IndicatorSpec("sma", Map("length" -> 20)),
      IndicatorSpec("sma", Map("length" -> 50)),
      IndicatorSpec("macd", Map()),
      IndicatorSpec("rsi", Map())
    )
  )

  /** Every registry indicator with default params (reference AllStrategy). */
  def All: Strategy = Strategy("All", registry.indicators.map(k => IndicatorSpec(k)))
}

/** Indicator registry (reference `df.ta.indicators()` / category lists). */
object registry {

  private def i(p: Map[String, Any], k: String, dflt: Int): Int =
    p.get(k).map(_.toString.toDouble.toInt).getOrElse(dflt)
  private def dd(p: Map[String, Any], k: String, dflt: Double): Double =
    p.get(k).map(_.toString.toDouble).getOrElse(dflt)
  private def s(p: Map[String, Any], k: String, dflt: String): String =
    p.get(k).map(_.toString).getOrElse(dflt)

  /** kind -> (category, builder). Length param key is "length" (reference
    * convention); MA dispatch key "mamode" where applicable. */
  val builders: Map[String, (String, (DataFrame, Map[String, Any]) => DataFrame)] = Map(
    // overlap
    "sma" -> ("overlap", (df, p) => df.ta.sma(i(p, "length", 10), s(p, "close", "close"))),
    "ema" -> ("overlap", (df, p) => df.ta.ema(i(p, "length", 10))),
    "wma" -> ("overlap", (df, p) => df.ta.wma(i(p, "length", 10))),
    "rma" -> ("overlap", (df, p) => df.ta.rma(i(p, "length", 10))),
    "dema" -> ("overlap", (df, p) => df.ta.dema(i(p, "length", 10))),
    "tema" -> ("overlap", (df, p) => df.ta.tema(i(p, "length", 10))),
    "trima" -> ("overlap", (df, p) => df.ta.trima(i(p, "length", 10))),
    "hma" -> ("overlap", (df, p) => df.ta.hma(i(p, "length", 10))),
    "zlma" -> ("overlap", (df, p) => df.ta.zlma(i(p, "length", 10))),
    "alma" -> ("overlap", (df, p) => df.ta.alma(i(p, "length", 10), dd(p, "sigma", 6.0), dd(p, "dist_offset", 0.85))),
    "fwma" -> ("overlap", (df, p) => df.ta.fwma(i(p, "length", 10))),
    "pwma" -> ("overlap", (df, p) => df.ta.pwma(i(p, "length", 10))),
    "swma" -> ("overlap", (df, p) => df.ta.swma(i(p, "length", 10))),
    "sinwma" -> ("overlap", (df, p) => df.ta.sinwma(i(p, "length", 10))),
    "t3" -> ("overlap", (df, p) => df.ta.t3(i(p, "length", 10), dd(p, "a", 0.7))),
    "kama" -> ("overlap", (df, p) => df.ta.kama(i(p, "length", 10), i(p, "fast", 2), i(p, "slow", 30))),
    "vidya" -> ("overlap", (df, p) => df.ta.vidya(i(p, "length", 10))),
    "mcgd" -> ("overlap", (df, p) => df.ta.mcgd(i(p, "length", 10))),
    "ssf" -> ("overlap", (df, p) => df.ta.ssf(i(p, "length", 10))),
    "hwma" -> ("overlap", (df, p) => df.ta.hwma(dd(p, "na", 0.2), dd(p, "nb", 0.1), dd(p, "nc", 0.1))),
    "jma" -> ("overlap", (df, p) => df.ta.jma(i(p, "length", 7), dd(p, "phase", 0.0))),
    "hilo" -> ("overlap", (df, p) => df.ta.hilo(i(p, "high_length", 13), i(p, "low_length", 21))),
    "supertrend" -> ("overlap", (df, p) => df.ta.supertrend(i(p, "length", 7), dd(p, "multiplier", 3.0))),
    "ichimoku" -> ("overlap", (df, p) => df.ta.ichimoku(i(p, "tenkan", 9), i(p, "kijun", 26), i(p, "senkou", 52), i(p, "shift", 26))),
    "midpoint" -> ("overlap", (df, p) => df.ta.midpoint(i(p, "length", 10))),
    "midprice" -> ("overlap", (df, p) => df.ta.midprice(i(p, "length", 10))),
    "hl2" -> ("overlap", (df, _) => df.ta.hl2),
    "hlc3" -> ("overlap", (df, _) => df.ta.hlc3),
    "ohlc4" -> ("overlap", (df, _) => df.ta.ohlc4),
    "wcp" -> ("overlap", (df, _) => df.ta.wcp),
    "vwap" -> ("overlap", (df, _) => df.ta.vwap),
    "vwma" -> ("overlap", (df, p) => df.ta.vwma(i(p, "length", 10))),
    "linreg" -> ("overlap", (df, p) => df.ta.linreg(i(p, "length", 10))),
    // momentum
    "rsi" -> ("momentum", (df, p) => df.ta.rsi(i(p, "length", 10))),
    "macd" -> ("momentum", (df, p) => df.ta.macd(i(p, "fast", 12), i(p, "slow", 26), i(p, "signal", 9))),
    "mom" -> ("momentum", (df, p) => df.ta.mom(i(p, "length", 10))),
    "roc" -> ("momentum", (df, p) => df.ta.roc(i(p, "length", 10))),
    "stoch" -> ("momentum", (df, p) => df.ta.stoch(i(p, "k", 10), i(p, "smooth_k", 3), i(p, "d", 3))),
    "stochrsi" -> ("momentum", (df, p) => df.ta.stochrsi(i(p, "length", 10))),
    "willr" -> ("momentum", (df, p) => df.ta.willr(i(p, "length", 10))),
    "cci" -> ("momentum", (df, p) => df.ta.cci(i(p, "length", 10))),
    "cmo" -> ("momentum", (df, p) => df.ta.cmo(i(p, "length", 10))),
    "apo" -> ("momentum", (df, p) => df.ta.apo(i(p, "fast", 12), i(p, "slow", 26))),
    "ppo" -> ("momentum", (df, p) => df.ta.ppo(i(p, "fast", 12), i(p, "slow", 26))),
    "pvo" -> ("momentum", (df, p) => df.ta.pvo(i(p, "fast", 12), i(p, "slow", 26), i(p, "signal", 9))),
    "ao" -> ("momentum", (df, p) => df.ta.ao(i(p, "fast", 5), i(p, "slow", 20))),
    "bop" -> ("momentum", (df, _) => df.ta.bop),
    "bias" -> ("momentum", (df, p) => df.ta.bias(i(p, "length", 26))),
    "brar" -> ("momentum", (df, p) => df.ta.brar(i(p, "length", 26))),
    "cfo" -> ("momentum", (df, p) => df.ta.cfo(i(p, "length", 10))),
    "cg" -> ("momentum", (df, p) => df.ta.cg(i(p, "length", 10))),
    "coppock" -> ("momentum", (df, p) => df.ta.coppock(i(p, "length", 10), i(p, "fast", 11), i(p, "slow", 14))),
    "cti" -> ("momentum", (df, p) => df.ta.cti(i(p, "length", 12))),
    "dm" -> ("momentum", (df, p) => df.ta.dm(i(p, "length", 14))),
    "er" -> ("momentum", (df, p) => df.ta.er(i(p, "length", 10))),
    "eri" -> ("momentum", (df, p) => df.ta.eri(i(p, "length", 10))),
    "fisher" -> ("momentum", (df, p) => df.ta.fisher(i(p, "length", 9))),
    "inertia" -> ("momentum", (df, p) => df.ta.inertia(i(p, "length", 20), i(p, "rvi_length", 14))),
    "kdj" -> ("momentum", (df, p) => df.ta.kdj(i(p, "length", 9), i(p, "signal", 3))),
    "kst" -> ("momentum", (df, _) => df.ta.kst()),
    "pgo" -> ("momentum", (df, p) => df.ta.pgo(i(p, "length", 14))),
    "psl" -> ("momentum", (df, p) => df.ta.psl(i(p, "length", 12))),
    "rvgi" -> ("momentum", (df, p) => df.ta.rvgi(i(p, "length", 14), i(p, "swma_length", 4))),
    "slope" -> ("momentum", (df, p) => df.ta.slope(i(p, "length", 1))),
    "smi" -> ("momentum", (df, p) => df.ta.smi(i(p, "length", 10), i(p, "fast", 5), i(p, "slow", 3))),
    "squeeze" -> ("momentum", (df, p) => df.ta.squeeze(i(p, "bb_length", 20), i(p, "kc_length", 20), i(p, "mom_length", 12))),
    "squeeze_pro" -> ("momentum", (df, p) => df.ta.squeezePro(i(p, "bb_length", 20), i(p, "kc_length", 20), i(p, "mom_length", 12))),
    "qqe" -> ("momentum", (df, p) => df.ta.qqe(i(p, "length", 14), i(p, "smooth", 5), dd(p, "factor", 4.236))),
    "rsx" -> ("momentum", (df, p) => df.ta.rsx(i(p, "length", 14))),
    "td_seq" -> ("momentum", (df, _) => df.ta.tdSeq),
    "stc" -> ("momentum", (df, p) => df.ta.stc(i(p, "tclength", 10), i(p, "fast", 12), i(p, "slow", 26))),
    "trix" -> ("momentum", (df, p) => df.ta.trix(i(p, "length", 10))),
    "tsi" -> ("momentum", (df, p) => df.ta.tsi(i(p, "fast", 13), i(p, "slow", 25))),
    "uo" -> ("momentum", (df, p) => df.ta.uo(i(p, "fast", 7), i(p, "medium", 14), i(p, "slow", 28))),
    // trend
    "adx" -> ("trend", (df, p) => df.ta.adx(i(p, "length", 14), i(p, "lensig", 14))),
    "amat" -> ("trend", (df, p) => df.ta.amat(i(p, "fast", 8), i(p, "slow", 21))),
    "aroon" -> ("trend", (df, p) => df.ta.aroon(i(p, "length", 10))),
    "chop" -> ("trend", (df, p) => df.ta.chop(i(p, "length", 10))),
    "cksp" -> ("trend", (df, p) => df.ta.cksp(i(p, "p", 10), dd(p, "x", 1.0), i(p, "q", 9))),
    "decay" -> ("trend", (df, p) => df.ta.decay(i(p, "length", 5))),
    "decreasing" -> ("trend", (df, p) => df.ta.decreasing(i(p, "length", 1))),
    "increasing" -> ("trend", (df, p) => df.ta.increasing(i(p, "length", 1))),
    "dpo" -> ("trend", (df, p) => df.ta.dpo(i(p, "length", 20))),
    "psar" -> ("trend", (df, p) => df.ta.psar(dd(p, "af0", 0.02), dd(p, "af", 0.02), dd(p, "max_af", 0.2))),
    "qstick" -> ("trend", (df, p) => df.ta.qstick(i(p, "length", 10))),
    "ttm_trend" -> ("trend", (df, p) => df.ta.ttmTrend(i(p, "length", 6))),
    "vhf" -> ("trend", (df, p) => df.ta.vhf(i(p, "length", 10))),
    "vortex" -> ("trend", (df, p) => df.ta.vortex(i(p, "length", 10))),
    // volatility
    "aberration" -> ("volatility", (df, p) => df.ta.aberration(i(p, "length", 5), i(p, "atr_length", 15))),
    "accbands" -> ("volatility", (df, p) => df.ta.accbands(i(p, "length", 10))),
    "atr" -> ("volatility", (df, p) => df.ta.atr(i(p, "length", 10))),
    "bbands" -> ("volatility", (df, p) => df.ta.bbands(i(p, "length", 5), dd(p, "std", 2.0))),
    "donchian" -> ("volatility", (df, p) => df.ta.donchian(i(p, "length", 10))),
    "kc" -> ("volatility", (df, p) => df.ta.kc(i(p, "length", 20), dd(p, "scalar", 2.0))),
    "massi" -> ("volatility", (df, p) => df.ta.massi(i(p, "fast", 9), i(p, "slow", 25))),
    "natr" -> ("volatility", (df, p) => df.ta.natr(i(p, "length", 10))),
    "pdist" -> ("volatility", (df, _) => df.ta.pdist()),
    "rvi" -> ("volatility", (df, p) => df.ta.rvi(i(p, "length", 14))),
    "thermo" -> ("volatility", (df, p) => df.ta.thermo(i(p, "length", 20))),
    "hwc" -> ("volatility", (df, p) => df.ta.hwc(dd(p, "na", 0.2), dd(p, "nb", 0.1), dd(p, "nc", 0.1))),
    "true_range" -> ("volatility", (df, _) => df.ta.trueRange),
    "ui" -> ("volatility", (df, p) => df.ta.ui(i(p, "length", 10))),
    // volume
    "ad" -> ("volume", (df, _) => df.ta.ad),
    "adosc" -> ("volume", (df, p) => df.ta.adosc(i(p, "fast", 3), i(p, "slow", 10))),
    "aobv" -> ("volume", (df, p) => df.ta.aobv(i(p, "fast", 4), i(p, "slow", 12))),
    "cmf" -> ("volume", (df, p) => df.ta.cmf(i(p, "length", 10))),
    "efi" -> ("volume", (df, p) => df.ta.efi(i(p, "length", 10))),
    "eom" -> ("volume", (df, p) => df.ta.eom(i(p, "length", 14))),
    "kvo" -> ("volume", (df, p) => df.ta.kvo(i(p, "fast", 34), i(p, "slow", 55), i(p, "signal", 13))),
    "mfi" -> ("volume", (df, p) => df.ta.mfi(i(p, "length", 10))),
    "nvi" -> ("volume", (df, _) => df.ta.nvi()),
    "pvi" -> ("volume", (df, _) => df.ta.pvi()),
    "obv" -> ("volume", (df, _) => df.ta.obv),
    "pvol" -> ("volume", (df, _) => df.ta.pvol),
    "pvr" -> ("volume", (df, _) => df.ta.pvr),
    "pvt" -> ("volume", (df, _) => df.ta.pvt),
    // statistics
    "kalman" -> ("overlap", (df, p) => df.ta.kalman(dd(p, "q", 0.01), dd(p, "r", 1.0))),
    "cusum" -> ("statistics", (df, p) =>
      df.ta.cusum(
        dd(p, "k", 0.5),
        dd(p, "h", 5.0),
        "close",
        p.get("mu").map(_.toString.toDouble),
        p.get("sd").map(_.toString.toDouble)
      )),
    "entropy" -> ("statistics", (df, p) => df.ta.entropy(i(p, "length", 10))),
    "kurtosis" -> ("statistics", (df, p) => df.ta.kurtosis(i(p, "length", 30))),
    "mad" -> ("statistics", (df, p) => df.ta.mad(i(p, "length", 30))),
    "median" -> ("statistics", (df, p) => df.ta.median(i(p, "length", 30))),
    "quantile" -> ("statistics", (df, p) => df.ta.quantile(i(p, "length", 30), dd(p, "q", 0.5))),
    "skew" -> ("statistics", (df, p) => df.ta.skew(i(p, "length", 30))),
    "stdev" -> ("statistics", (df, p) => df.ta.stdev(i(p, "length", 30))),
    "variance" -> ("statistics", (df, p) => df.ta.variance(i(p, "length", 30))),
    "zscore" -> ("statistics", (df, p) => df.ta.zscore(i(p, "length", 30))),
    "tos_stdevall" -> ("statistics", (df, _) => df.ta.tosStdevall()),
    // performance
    "log_return" -> ("performance", (df, p) => df.ta.logReturn(i(p, "length", 1), p.get("cumulative").exists(_.toString.toBoolean))),
    "percent_return" -> ("performance", (df, p) => df.ta.percentReturn(i(p, "length", 1), p.get("cumulative").exists(_.toString.toBoolean))),
    "drawdown" -> ("performance", (df, _) => df.ta.drawdown),
    // candles
    "ha" -> ("candles", (df, _) => df.ta.ha),
    "cdl_doji" -> ("candles", (df, p) => df.ta.cdlDoji(i(p, "length", 10), dd(p, "factor", 0.1))),
    "cdl_inside" -> ("candles", (df, _) => df.ta.cdlInside),
    "cdl_pattern" -> ("candles", (df, _) => df.ta.cdlPatterns),
    "cdl_pattern_2" -> ("candles", (df, _) => df.ta.cdlPatterns2),
    "cdl_pattern_3" -> ("candles", (df, _) => df.ta.cdlPatterns3),
    "cdl_pattern_4" -> ("candles", (df, _) => df.ta.cdlPatterns4),
    "cdl_pattern_5" -> ("candles", (df, _) => df.ta.cdlPatterns5),
    "cdl_pattern_6" -> ("candles", (df, _) => df.ta.cdlPatterns6),
    "candle_utils" -> ("candles", (df, _) => df.ta.candleUtils),
    "geometric_mean" -> ("statistics", (df, p) => df.ta.geometricMean(i(p, "length", 10))),
    "ebsw" -> ("cycles", (df, p) => df.ta.ebsw(i(p, "length", 40), i(p, "bars", 10))),
    "cdl_z" -> ("candles", (df, p) => df.ta.cdlZ(i(p, "length", 10)))
  )

  /** Available indicator kinds (reference df.ta.indicators()). */
  def indicators: Seq[String] = builders.keys.toSeq.sorted

  /** Category list (reference df.ta.categories). */
  def categories: Seq[String] = builders.values.map(_._1).toSeq.distinct.sorted

  def byCategory(cat: String): Seq[String] =
    builders.collect { case (k, (c, _)) if c == cat => k }.toSeq.sorted

  /** `ma(name, ...)` dispatcher (reference overlap/ma.py). */
  def ma(name: String, df: DataFrame, length: Int): DataFrame =
    apply(df, IndicatorSpec(name, Map("length" -> length)))

  def apply(df: DataFrame, spec: IndicatorSpec): DataFrame = {
    val (_, b) = builders.getOrElse(
      spec.kind,
      throw new IllegalArgumentException(
        s"unknown indicator '${spec.kind}'; available: ${indicators.mkString(", ")}"
      )
    )
    val before = df.columns.toSet
    val out = b(df, spec.params)
    postKwargs(out, before, spec.params)
  }

  /** Uniform post-steps every reference indicator honors (core.py):
    * offset=k shifts appended outputs, fillna fills them, prefix/suffix
    * rename them. Applied only to columns the spec ADDED. */
  private def postKwargs(df: DataFrame, before: Set[String], p: Map[String, Any]): DataFrame = {
    val added = df.columns.filterNot(before.contains)
    val off = p.get("offset").map(_.toString.toInt).getOrElse(0)
    val d1 =
      if (off == 0) df
      else added.foldLeft(df)((d, cName) => d.withColumn(cName, prim.shift(col(cName), off)))
    val d2 = p.get("fillna") match {
      case Some(v) =>
        added.foldLeft(d1)((d, cName) => d.withColumn(cName, coalesce(col(cName), lit(v.toString.toDouble))))
      case None => d1
    }
    val prefix = p.get("prefix").map(_.toString)
    val suffix = p.get("suffix").map(_.toString)
    if (prefix.isEmpty && suffix.isEmpty) d2
    else
      added.foldLeft(d2) { (d, cName) =>
        d.withColumnRenamed(cName, s"${prefix.map(_ + "_").getOrElse("")}$cName${suffix.map("_" + _).getOrElse("")}")
      }
  }

  /** True when the spec has a StrategyCompiler lowering (test hook). */
  def hasLowering(spec: IndicatorSpec): Boolean =
    StrategyCompiler.compile(spec).isDefined || StrategyCompiler.compileRec(spec).isDefined

  /** REC kernel lowering (jma, fixed-reference cusum) for streaming and
    * tests: output schema, the constant columns the kernel reads besides
    * the bars, and the kernel factory. */
  def recKernel(spec: IndicatorSpec): Option[
    (Seq[org.apache.spark.sql.types.StructField], Seq[(String, Double)], () => rec.Kernel)
  ] =
    StrategyCompiler.compileRec(spec).map(rp => (rp.outs, rp.consts, rp.make))

  /** The batch plan of ONE spec's compiled lowering over `df` — the same
    * merged-level plan `strategy` runs for it, without the builder-fold
    * fallback. None when the kind has no column lowering. */
  def lowered(df: DataFrame, spec: IndicatorSpec): Option[DataFrame] =
    StrategyCompiler.compile(spec).map(cp => StrategyCompiler.runAll(df, Seq(cp), Nil))

  /** Compile and run a whole Strategy — one lazy plan, no process pool.
    *
    * Specs with a StrategyCompiler lowering merge into a handful of
    * `withColumns` levels (driver-side compile cost stops scaling with
    * indicator count × plan size — see StrategyCompiler); the rest run
    * through the per-spec builder fold. Output columns are identical to
    * folding `apply` over every spec. */
  def strategy(df: DataFrame, st: Strategy): DataFrame = {
    // Compiled-plan cache (prepared-statement semantics): the 80-spec batch
    // costs ~1.7s of Catalyst analysis per build — identical (input plan,
    // strategy) in one session returns the SAME analyzed DataFrame; every
    // action still executes from scratch. Key includes every spec kind+param
    // (sorted, so Map iteration order cannot alias two strategies).
    val stKey = st.ta
      .map(s => s.kind + ":" + s.params.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString(","))
      .mkString(";")
    graft.CacheRegistry.memoPlan(
      df.sparkSession,
      s"strategy:${st.name}:$stKey:${graft.CacheRegistry.planKey(df)}"
    )(strategyBuild(df, st))
  }

  private def strategyBuild(df: DataFrame, st: Strategy): DataFrame = {
    require(
      df.columns.forall(!_.startsWith("__")),
      "strategy input has columns with the reserved '__' prefix (compiler temps): " +
        df.columns.filter(_.startsWith("__")).mkString(", ")
    )
    val lowered0 = st.ta.map { s =>
      val cp = StrategyCompiler.compile(s)
      (s, cp, if (cp.isEmpty) StrategyCompiler.compileRec(s) else None)
    }
    // Several lowerings reuse a param-INDEPENDENT temp name (__pos, __qrsi,
    // __cci_mad, ...) whose expression is param-DEPENDENT. runAll's
    // per-level name dedup keeps the last occurrence, so batching two
    // same-kind/different-param specs would compute the first spec's
    // outputs from the second's intermediates. Claim names first-come:
    // a spec whose plan redefines an already-claimed name with a different
    // expression (or whose kernel re-emits a claimed output) falls back to
    // the builder fold — fold semantics are the contract, the merged batch
    // is only the fast path. Identical redefinitions (e.g. the shared
    // true_range stage from atr+natr+chop) still batch. Colliders fold
    // AFTER the batch (a later spec's output must overwrite an earlier
    // one's, per replace semantics), and once a name is routed every
    // later spec writing it routes too, preserving last-wins order.
    val claimed = scala.collection.mutable.Map.empty[String, String]
    val routedNames = scala.collection.mutable.Set.empty[String]
    val lowered = lowered0.map { case (s, cp, rp) =>
      if (cp.isEmpty && rp.isEmpty) (s, cp, rp, false)
      else {
        val levels = cp.map(_.levels).orElse(rp.map(_.staging)).getOrElse(Nil)
        val names: Seq[(String, String)] =
          levels.flatten.map { case (n, c) => n -> c.toString } ++
            rp.toSeq.flatMap(_.outs.map(f =>
              f.name -> s"kernel:${s.kind}:${s.params.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString(",")}"
            ))
        val collides = names.exists { case (n, e) =>
          routedNames.contains(n) || claimed.get(n).exists(_ != e)
        }
        if (collides) {
          routedNames ++= names.map(_._1)
          (s, None, None, true)
        } else {
          names.foreach { case (n, e) => claimed.getOrElseUpdate(n, e) }
          (s, cp, rp, false)
        }
      }
    }
    val colPlans = lowered.collect { case (_, Some(cp), _, _) => cp }
    val recPlans = lowered.collect { case (_, None, Some(rp), _) => rp }
    val preFold = lowered.collect { case (s, None, None, false) => s }
    val postFold = lowered.collect { case (s, None, None, true) => s }
    // builder-fold specs (kwargs carriers, unlowered kinds) run FIRST,
    // while the plan is still narrow — each fold step re-analyzes the
    // whole accumulated plan, so folding over the 200+-column compiled
    // batch would pay that cost per step for nothing. Then the column
    // levels merge into a few withColumns, and ALL REC kernels run in one
    // batched repartition+sort+mapPartitions pass instead of one each.
    // Collision-routed specs fold last so their outputs land in spec order.
    val batched = StrategyCompiler.runAll(
      preFold.foldLeft(df)((d, spec) => apply(d, spec)),
      colPlans,
      recPlans
    )
    postFold.foldLeft(batched)((d, spec) => apply(d, spec))
  }
}
