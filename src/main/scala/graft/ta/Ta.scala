package graft.ta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import prim._

/** The user-facing accessor (reference: `df.ta.<indicator>(...)`,
  * pandas_ta/core.py AnalysisIndicators). `import graft.ta._` gives
  * `df.ta.rsi()` etc. Methods append canonical lowercase columns
  * (`sma_10`, `macd_12_26_9`, ...) and return the DataFrame, so calls
  * chain: `df.ta.sma(10).ta.rsi(14)`.
  *
  * Inputs follow the canonical schema: series_id, ts, open, high, low,
  * close, volume (close-only indicators need only series_id/ts/close).
  * Every method is a composition over prim/stage — one shared window
  * spec, so an N-indicator chain plans as one Exchange + one Sort.
  */
final class Ta(private val df: DataFrame) {

  private def c(name: String) = col(name)
  private val close = col("close")
  private val open = col("open")
  private val high = col("high")
  private val low = col("low")
  private val volume = col("volume")

  // ======================================================== overlap =====
  // sma/wma/stdev go through Halo.auto: on a low-cardinality/long-series
  // frame (the 100 TB single-instrument shape) the ≤n-row window lowers
  // to halo chunks instead of a 1-task global window; on every other
  // input (all test fixtures) the gates leave the plain path untouched.
  def sma(n: Int = 10, src: String = "close"): DataFrame =
    graft.plans.Halo.auto(df, n)(_.withColumn(s"sma_$n", rmean(c(src), n)))

  def ema(n: Int = 10, src: String = "close"): DataFrame =
    stage.ema(df, src, s"ema_$n", n)

  def wma(n: Int = 10, src: String = "close"): DataFrame =
    graft.plans.Halo.auto(df, n)(_.withColumn(s"wma_$n", prim.wma(c(src), n)))

  def rma(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(s"rma_$n", rmaOf(c(src), n))

  def hl2: DataFrame = df.withColumn("hl2", (high + low) / 2.0)
  def hlc3: DataFrame = df.withColumn("hlc3", (high + low + close) / 3.0)
  def ohlc4: DataFrame = df.withColumn("ohlc4", (open + high + low + close) / 4.0)
  def wcp: DataFrame = df.withColumn("wcp", (high + low + lit(2.0) * close) / 4.0)

  def midpoint(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(s"midpoint_$n", (rmax(c(src), n) + rmin(c(src), n)) / 2.0)

  def midprice(n: Int = 10): DataFrame =
    df.withColumn(s"midprice_$n", (rmax(high, n) + rmin(low, n)) / 2.0)

  /** Global-anchor VWAP over the series: Σ(hlc3·v)/Σv cumulative. */
  def vwap: DataFrame =
    df.withColumn("__tp", (high + low + close) / 3.0)
      .withColumn("vwap", sdiv(cumsum(col("__tp") * volume), cumsum(volume)))
      .drop("__tp")

  def vwma(n: Int = 10): DataFrame =
    df.withColumn(s"vwma_$n", sdiv(rmean(close * volume, n), rmean(volume, n)))

  def linreg(n: Int = 10, src: String = "close"): DataFrame =
    stage.linreg(df, src, s"linreg_$n", n)

  // ===================================================== volatility =====
  /** max(h−l, |h−pc|, |l−pc|); null on the first row (no prev close). */
  def trueRange: DataFrame = {
    val pc = shift(close, 1)
    df.withColumn(
      "true_range",
      when(pc.isNull, lit(null))
        .otherwise(greatest(high - low, abs(high - pc), abs(low - pc)))
    )
  }

  def atr(n: Int = 10): DataFrame =
    new Ta(trueRange)
      .rmaAs(s"atr_$n", "true_range", n)

  private def rmaAs(out: String, src: String, n: Int): DataFrame =
    df.withColumn(out, rmaOf(c(src), n))

  def natr(n: Int = 10): DataFrame = {
    val a = new Ta(df).atr(n)
    a.withColumn(s"natr_$n", lit(100.0) * sdiv(c(s"atr_$n"), close))
  }

  def bbands(n: Int = 5, k: Double = 2.0, src: String = "close"): DataFrame = {
    val mid = rmean(c(src), n)
    val dev = rstd(c(src), n) * k
    // integral k → "2" (dots in column names break unquoted identifiers)
    val ks = if (k == k.floor) k.toInt.toString else k.toString.replace('.', '_')
    // ONE withColumns level (round 16): the five outputs are independent
    // given df, and identical window subtrees (rmean/rstd) dedupe inside
    // one Project via ExtractWindowExpressions — one analyzer pass
    // instead of five over a growing plan. ListMap pins column order.
    df.withColumns(
      scala.collection.immutable.ListMap(
        s"bbm_${n}_$ks" -> mid,
        s"bbl_${n}_$ks" -> (mid - dev),
        s"bbu_${n}_$ks" -> (mid + dev),
        s"bbb_${n}_$ks" -> (lit(100.0) * sdiv(lit(2.0) * dev, mid)),
        s"bbp_${n}_$ks" -> sdiv(c(src) - (mid - dev), lit(2.0) * dev)
      )
    )
  }

  def donchian(n: Int = 10): DataFrame =
    // two levels: dcm REFERENCES the staged band columns — inlining the
    // rmin/rmax expressions into dcm doubles the Window's expression list
    // (ExtractWindowExpressions does NOT dedupe identical window exprs;
    // caught by the round-16 plan diff: 4 → 8 window expressions)
    df.withColumns(
        scala.collection.immutable.ListMap(
          s"dcl_$n" -> rmin(low, n),
          s"dcu_$n" -> rmax(high, n)
        )
      )
      .withColumn(s"dcm_$n", (c(s"dcl_$n") + c(s"dcu_$n")) / 2.0)

  def accbands(n: Int = 10): DataFrame = {
    val ratio = lit(4.0) * sdiv(high - low, high + low)
    // two levels (staged __au/__al, then their means) instead of five ops
    df.withColumns(
        scala.collection.immutable.ListMap(
          "__au" -> (high * (lit(1.0) + ratio)),
          "__al" -> (low * (lit(1.0) - ratio))
        )
      )
      .withColumns(
        scala.collection.immutable.ListMap(
          s"accbu_$n" -> rmean(col("__au"), n),
          s"accbl_$n" -> rmean(col("__al"), n),
          s"accbm_$n" -> rmean(close, n)
        )
      )
      .drop("__au", "__al")
  }

  /** Ulcer index: √(sma(D², n)), D = 100·(c − HH(c,n))/HH(c,n). */
  def ui(n: Int = 10): DataFrame = {
    val hh = rmax(close, n)
    df.withColumn("__d2", {
      val dpct = lit(100.0) * sdiv(close - hh, hh)
      dpct * dpct
    }).withColumn(s"ui_$n", {
        val m = rmean(col("__d2"), n)
        when(m >= 0.0, sqrt(m))
      })
      .drop("__d2")
  }

  def pdist(drift: Int = 1): DataFrame =
    df.withColumn(
      "pdist",
      lit(2.0) * (high - low) - abs(close - open) + abs(open - shift(close, drift))
    )

  // ======================================================== volume =====
  /** OBV: cumsum(sign(Δc)·v), first row counts +v. */
  def obv: DataFrame = {
    val dcl = diff(close)
    val sgn = when(rn === 1, 1.0)
      .otherwise(when(dcl > 0, 1.0).when(dcl < 0, -1.0).otherwise(0.0))
    df.withColumn("__s", sgn * volume).withColumn("obv", cumsum(col("__s"))).drop("__s")
  }

  /** CLV·v accumulation; CLV = ((c−l)−(h−c))/(h−l), 0 when h=l. */
  def ad: DataFrame =
    df.withColumn("__clvv", clv * volume).withColumn("ad", cumsum(col("__clvv"))).drop("__clvv")

  private def clv: Column =
    when(high =!= low, ((close - low) - (high - close)) / (high - low)).otherwise(0.0)

  def cmf(n: Int = 10): DataFrame =
    df.withColumn("__clvv", clv * volume)
      .withColumn(s"cmf_$n", sdiv(rsum(col("__clvv"), n), rsum(volume, n)))
      .drop("__clvv")

  /** Elder force index: ema(Δc·v, n) (sma-seeded ema per declared spec). */
  def efi(n: Int = 10): DataFrame = {
    val tmp = df.withColumn("__f", diff(close) * volume)
    stage.ema(tmp, "__f", s"efi_$n", n).drop("__f")
  }

  def eom(n: Int = 14, divisor: Double = 1e8): DataFrame =
    df.withColumn("__hl2", (high + low) / 2.0)
      .withColumn("__raw", lit(divisor) * diff(col("__hl2")) * sdiv(high - low, volume))
      .withColumn(s"eom_$n", rmean(col("__raw"), n))
      .drop("__hl2", "__raw")

  /** MFI: null tp-diff (row 0) contributes 0 to both flows (FIXTURES §3). */
  def mfi(n: Int = 10): DataFrame = {
    val tp = (high + low + close) / 3.0
    df.withColumn("__tp", tp)
      .withColumn("__dtp", diff(col("__tp")))
      .withColumns(
        scala.collection.immutable.ListMap(
          "__pos" -> when(col("__dtp") > 0, col("__tp") * volume).otherwise(0.0),
          "__neg" -> when(col("__dtp") < 0, col("__tp") * volume).otherwise(0.0)
        )
      )
      .withColumn(
        s"mfi_$n",
        lit(100.0) * sdiv(rsum(col("__pos"), n), rsum(col("__pos"), n) + rsum(col("__neg"), n))
      )
      .drop("__tp", "__dtp", "__pos", "__neg")
  }

  def pvol: DataFrame = df.withColumn("pvol", volume * close)

  /** Price-volume rank 1..4 by signs of (Δc, Δv); null until both diffs exist. */
  def pvr: DataFrame = {
    val dc = diff(close); val dv = diff(volume)
    df.withColumn(
      "pvr",
      when(dc.isNull || dv.isNull, lit(null))
        .when(dc >= 0 && dv >= 0, 1.0)
        .when(dc >= 0 && dv < 0, 2.0)
        .when(dc < 0 && dv >= 0, 3.0)
        .otherwise(4.0)
    )
  }

  /** PVT: cumsum(1-period fractional return · v); row 0 contributes 0. */
  def pvt: DataFrame =
    df.withColumn("__r", coalesce(pctChange(close, 1) * volume, lit(0.0)))
      .withColumn("pvt", cumsum(col("__r")))
      .drop("__r")

  // ====================================================== momentum =====
  def stoch(n: Int = 10, smoothK: Int = 3, dN: Int = 3): DataFrame = {
    val ll = rmin(low, n); val hh = rmax(high, n)
    df.withColumn("__fastk", lit(100.0) * sdiv(close - ll, hh - ll))
      .withColumn(s"stoch_k", rmean(col("__fastk"), smoothK))
      .withColumn(s"stoch_d", rmean(col(s"stoch_k"), dN))
      .drop("__fastk")
  }

  def willr(n: Int = 10): DataFrame = {
    val ll = rmin(low, n); val hh = rmax(high, n)
    df.withColumn(s"willr_$n", lit(100.0) * sdiv(close - hh, hh - ll))
  }

  def cci(n: Int = 10, scalar: Double = 0.015): DataFrame = {
    val tmp = df.withColumn("__tp", (high + low + close) / 3.0)
    stage
      .mad(tmp, "__tp", "__mad", n)
      .withColumn(s"cci_$n", sdiv(col("__tp") - rmean(col("__tp"), n), lit(scalar) * col("__mad")))
      .drop("__tp", "__mad")
  }

  def ao(fast: Int = 5, slow: Int = 20): DataFrame =
    df.withColumn("__hl2", (high + low) / 2.0)
      .withColumn(s"ao_${fast}_$slow", rmean(col("__hl2"), fast) - rmean(col("__hl2"), slow))
      .drop("__hl2")

  def bop: DataFrame = df.withColumn("bop", sdiv(close - open, high - low))

  /** Ultimate oscillator; null-propagating min/max vs prev close. */
  def uo(f: Int = 7, m: Int = 14, s: Int = 28): DataFrame = {
    val pc = shift(close, 1)
    val bp = when(pc.isNull, lit(null)).otherwise(close - least(low, pc))
    val tr = when(pc.isNull, lit(null)).otherwise(greatest(high, pc) - least(low, pc))
    def avgN(n: Int) = sdiv(rsum(col("__bp"), n), rsum(col("__tr"), n))
    df.withColumns(scala.collection.immutable.ListMap("__bp" -> bp, "__tr" -> tr))
      .withColumn(
        s"uo_${f}_${m}_$s",
        lit(100.0) * (lit(4.0) * avgN(f) + lit(2.0) * avgN(m) + avgN(s)) / 7.0
      )
      .drop("__bp", "__tr")
  }

  /** Elder-ray: bull = high − ema(n), bear = low − ema(n). */
  def eri(n: Int = 10): DataFrame = {
    val withE = stage.ema(df, "close", "__e", n)
    withE
      .withColumn(s"bull_$n", high - col("__e"))
      .withColumn(s"bear_$n", low - col("__e"))
      .drop("__e")
  }

  def mom(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(s"mom_$n", diff(c(src), n))

  def roc(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(s"roc_$n", lit(100.0) * pctChange(c(src), n))

  /** Chande momentum: 100·(ΣU−ΣD)/(ΣU+ΣD), rolling-sum mode (declared). */
  def cmo(n: Int = 10, src: String = "close"): DataFrame = {
    val x = c(src)
    val dd = diff(x)
    df.withColumns(
        scala.collection.immutable.ListMap(
          "__up" -> when(dd.isNull, lit(null)).when(dd > 0, dd).otherwise(lit(0.0)),
          "__dn" -> when(dd.isNull, lit(null)).when(dd < 0, -dd).otherwise(lit(0.0))
        )
      )
      .withColumn(
        s"cmo_$n",
        lit(100.0) * sdiv(
          rsum(col("__up"), n) - rsum(col("__dn"), n),
          rsum(col("__up"), n) + rsum(col("__dn"), n)
        )
      )
      .drop("__up", "__dn")
  }

  /** Absolute price oscillator, declared mamode=sma. */
  def apo(fast: Int = 12, slow: Int = 26, src: String = "close"): DataFrame =
    df.withColumn(s"apo_${fast}_$slow", rmean(c(src), fast) - rmean(c(src), slow))

  /** Percentage price oscillator, pandas-ta default mamode=sma. */
  def ppo(fast: Int = 12, slow: Int = 26, src: String = "close"): DataFrame =
    df.withColumn(
      s"ppo_${fast}_$slow",
      lit(100.0) * sdiv(rmean(c(src), fast) - rmean(c(src), slow), rmean(c(src), slow))
    )

  def bias(n: Int = 26, src: String = "close"): DataFrame =
    df.withColumn(s"bias_$n", lit(100.0) * (sdiv(c(src), rmean(c(src), n)) - 1.0))

  /** Kaufman efficiency ratio: |Δₙc| / Σ|Δc| over n. */
  def er(n: Int = 10, src: String = "close"): DataFrame = {
    val x = c(src)
    df.withColumn("__ad", abs(diff(x)))
      .withColumn(s"er_$n", sdiv(abs(x - shift(x, n)), rsum(col("__ad"), n)))
      .drop("__ad")
  }

  /** Psychological line: 100·count(Δc>0 over n)/n. pandas parity: the
    * first row's NaN diff counts as 0 (False), so first valid row is n−1
    * (golden fv=9 for n=10, FIXTURES §3). */
  def psl(n: Int = 12, src: String = "close"): DataFrame = {
    val dd = diff(c(src))
    df.withColumn("__gt", when(dd > 0, 1.0).otherwise(0.0))
      .withColumn(s"psl_$n", lit(100.0) * rsum(col("__gt"), n) / n.toDouble)
      .drop("__gt")
  }

  /** Center of gravity: −Σ(i+1)·x_{t−i} / Σx over n (i=0 newest). */
  def cg(n: Int = 10, src: String = "close"): DataFrame = {
    val x = c(src)
    val num = wdot(x, (1 to n).map(_.toDouble))
    df.withColumn(s"cg_$n", -sdiv(when(count(x).over(f(n)) >= n, num), rsum(x, n)))
  }

  /** Chande forecast oscillator: 100·(c − linreg_tsf(c,n))/c. */
  def cfo(n: Int = 10, src: String = "close"): DataFrame =
    stage
      .linreg(df, src, s"__lr", n)
      .withColumn(s"cfo_$n", lit(100.0) * sdiv(c(src) - col("__lr_tsf"), c(src)))
      .drop("__lr_slope", "__lr_intercept", "__lr_tsf", "__lr_r")

  /** Correlation trend indicator: rolling Pearson r of src vs 0..n−1. */
  def cti(n: Int = 12, src: String = "close"): DataFrame =
    stage
      .linreg(df, src, s"__lr", n)
      .withColumn(s"cti_$n", col("__lr_r"))
      .drop("__lr_slope", "__lr_intercept", "__lr_tsf", "__lr_r")

  /** Coppock curve: wma(roc(fast) + roc(slow), n). */
  def coppock(n: Int = 10, fast: Int = 11, slow: Int = 14, src: String = "close"): DataFrame = {
    val x = c(src)
    df.withColumn(
        "__rsum2",
        lit(100.0) * pctChange(x, fast) + lit(100.0) * pctChange(x, slow)
      )
      .withColumn(s"coppock_${n}_${fast}_$slow", prim.wma(col("__rsum2"), n))
      .drop("__rsum2")
  }

  /** Know-sure-thing: Σᵢ i·sma(roc(rᵢ), sᵢ), signal = sma(kst, sig). */
  def kst(
      r: Seq[Int] = Seq(10, 15, 20, 30),
      s: Seq[Int] = Seq(10, 10, 10, 15),
      sig: Int = 9,
      src: String = "close"
  ): DataFrame = {
    val x = c(src)
    val terms = r.zip(s).zipWithIndex.map { case ((ri, si), i) =>
      lit((i + 1).toDouble) * rmean(lit(100.0) * pctChange(x, ri), si)
    }
    df.withColumn("kst", terms.reduce(_ + _))
      .withColumn(s"kst_signal", rmean(col("kst"), sig))
  }

  /** Trix: 100·pct_change of triple sma-seeded ema. */
  /** TRIX = 100·pctChange(ema³). Round-9: one cascaded fold
    * (SeededComposites.TrixFold) — three seeded-ema levels plus the
    * lag-1 slot in a single aggregation buffer; the staged chain it
    * bit-matches is the WilderFoldSpec reference. */
  def trix(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(
      s"trix_$n",
      call_function("graft_trix_k", c(src).cast("double"), lit(n)).over(prim.cum)
    )

  /** True strength index: 100·ema(ema(Δc,slow),fast)/ema(ema(|Δc|,slow),fast)
    * (sma-seeded ema chains per the declared spec). */
  def tsi(fast: Int = 13, slow: Int = 25, src: String = "close"): DataFrame =
    // round-9 fold (SeededComposites.TsiFold): diff slot + two seeded-ema
    // chains with per-level lengths in one buffer (was 6 staged levels)
    df.withColumn(
      s"tsi_${fast}_$slow",
      call_function("graft_tsi_k", c(src).cast("double"), lit(fast), lit(slow)).over(prim.cum)
    )

  /** StochRSI: stoch range position of rsi(n), smoothed k and d. */
  def stochrsi(n: Int = 10, k: Int = 3, d: Int = 3, src: String = "close"): DataFrame = {
    val withRsi = rsiAs(df, src, "__rsi", n)
    val lo = rmin(col("__rsi"), n); val hi = rmax(col("__rsi"), n)
    withRsi
      .withColumn("__srsi", lit(100.0) * sdiv(col("__rsi") - lo, hi - lo))
      .withColumn(s"stochrsi_k", rmean(col("__srsi"), k))
      .withColumn(s"stochrsi_d", rmean(col(s"stochrsi_k"), d))
      .drop("__rsi", "__srsi")
  }

  def rsi(n: Int = 10, src: String = "close"): DataFrame =
    rsiAs(df, src, s"rsi_$n", n)

  /** Round-8: the single-expression RSI fold
    * (functions.SeededComposites.RsiSeeded) — the staged diff/up/dn/
    * double-rma spelling it bit-matches is preserved as the reference in
    * SeededCompositeSpec. One window expression instead of two helper
    * columns + three window aggregates. */
  private def rsiAs(d0: DataFrame, src: String, out: String, n: Int): DataFrame =
    d0.withColumn(
      out,
      call_function("graft_rsi_k", c(src).cast("double"), lit(n)).over(prim.cum)
    )

  // ========================================================= trend =====
  /** Aroon: 100·(n − bars-since-extreme)/n over n+1 rows; ties → most
    * recent occurrence (reference reverses then argmax). */
  def aroon(n: Int = 10): DataFrame =
    df.withColumns(
        scala.collection.immutable.ListMap(
          "__hs" -> collect_list(high).over(f(n + 1)),
          "__ls" -> collect_list(low).over(f(n + 1))
        )
      )
      .withColumns(
        scala.collection.immutable.ListMap(
          s"aroon_u_$n" -> when(
            size(col("__hs")) === n + 1,
            lit(100.0) * (lit(n.toDouble) -
              (expr("array_position(reverse(__hs), array_max(__hs))") - 1.0)) / n.toDouble
          ),
          s"aroon_d_$n" -> when(
            size(col("__ls")) === n + 1,
            lit(100.0) * (lit(n.toDouble) -
              (expr("array_position(reverse(__ls), array_min(__ls))") - 1.0)) / n.toDouble
          )
        )
      )
      .drop("__hs", "__ls")

  /** Choppiness: 100·log10(Σtr(n)/(HH−LL))/log10(n) = 100·ln(r)/ln(n). */
  def chop(n: Int = 10): DataFrame = new Ta(trueRange).chopInner(n)

  private def chopInner(n: Int): DataFrame = {
    val rangeHL = rmax(high, n) - rmin(low, n)
    val ratio = sdiv(rsum(c("true_range"), n), rangeHL)
    df.withColumn(s"chop_$n", lit(100.0) * sln(ratio) / lit(math.log(n.toDouble)))
  }

  def vortex(n: Int = 10): DataFrame = {
    val pl = shift(low, 1); val ph = shift(high, 1)
    val base = new Ta(df).trueRange
    base
      .withColumns(
        scala.collection.immutable.ListMap(
          "__vmp" -> when(pl.isNull, lit(null)).otherwise(abs(high - pl)),
          "__vmm" -> when(ph.isNull, lit(null)).otherwise(abs(low - ph))
        )
      )
      .withColumns(
        scala.collection.immutable.ListMap(
          s"vtxp_$n" -> sdiv(rsum(col("__vmp"), n), rsum(col("true_range"), n)),
          s"vtxm_$n" -> sdiv(rsum(col("__vmm"), n), rsum(col("true_range"), n))
        )
      )
      .drop("__vmp", "__vmm")
  }

  def qstick(n: Int = 10): DataFrame =
    df.withColumn(s"qstick_$n", rmean(close - open, n))

  /** Vertical horizontal filter: |HH(c,n)−LL(c,n)| / Σ|Δc| over n. */
  def vhf(n: Int = 10, src: String = "close"): DataFrame = {
    val x = c(src)
    df.withColumn("__ad", abs(diff(x)))
      .withColumn(s"vhf_$n", sdiv(abs(rmax(x, n) - rmin(x, n)), rsum(col("__ad"), n)))
      .drop("__ad")
  }

  def increasing(n: Int = 1, src: String = "close"): DataFrame =
    df.withColumn(s"increasing_$n", when(diff(c(src), n) > 0, 1.0).otherwise(0.0))

  def decreasing(n: Int = 1, src: String = "close"): DataFrame =
    df.withColumn(s"decreasing_$n", when(diff(c(src), n) < 0, 1.0).otherwise(0.0))

  /** Trend signals (reference trend/tsignals.py): entries/exits/active
    * from an int trend column. Row 0 with trend=1 is an entry. */
  def tsignals(trendCol: String): DataFrame = {
    val t = c(trendCol); val pt = coalesce(shift(t, 1), lit(0.0))
    df.withColumns(
      scala.collection.immutable.ListMap(
        "ts_trends" -> t,
        "ts_entries" -> when(t === 1.0 && pt === 0.0, 1.0).otherwise(0.0),
        "ts_exits" -> when(t === 0.0 && pt === 1.0, 1.0).otherwise(0.0)
      )
    )
  }

  /** cross-above signal: a>b now, a≤b on the previous row. */
  def crossAbove(a: String, b: String, out: String): DataFrame = {
    val pa = shift(c(a), 1); val pb = shift(c(b), 1)
    df.withColumn(
      out,
      when(c(a) > c(b) && pa.isNotNull && pb.isNotNull && pa <= pb, 1.0).otherwise(0.0)
    )
  }

  def above(a: String, b: String, out: String): DataFrame =
    df.withColumn(out, when(c(a) >= c(b), 1.0).otherwise(0.0))

  // ======================================================= candles =====
  def cdlInside: DataFrame = {
    val ph = shift(high, 1); val pl = shift(low, 1)
    df.withColumn(
      "cdl_inside",
      when(ph.isNotNull && high < ph && low > pl, 1.0).otherwise(0.0)
    )
  }

  /** Z-score of each OHLC component over n. */
  def cdlZ(n: Int = 10): DataFrame =
    Seq("open", "high", "low", "close").foldLeft(df) { (d, s) =>
      d.withColumn(s"${s}_z_$n", sdiv(c(s) - rmean(c(s), n), rstd(c(s), n)))
    }

  /** Candle utils (reference utils/_candles.py): color ±1, |body|, range. */
  def candleUtils: DataFrame =
    df.withColumns(
      scala.collection.immutable.ListMap(
        "candle_color" -> when(close >= open, 1.0).otherwise(-1.0),
        "real_body" -> abs(close - open),
        "high_low_range" -> (high - low)
      )
    )

  /** Rolling geometric mean (reference utils/_math.py::geometric_mean):
    * exp(mean(ln x)) over n, null if any x ≤ 0 in the window. */
  def geometricMean(n: Int = 10, src: String = "close"): DataFrame = {
    val x = c(src)
    val lnx = when(x > 0, log(x))
    df.withColumn(s"geomean_$n", exp(rmean(lnx, n)))
  }

  /** Native candle patterns (reference candles/cdl_pattern.py delegates
    * to TA-Lib; these are self-contained declared specs for the most-used
    * patterns — no TA-Lib dependency). All emit 1.0/0.0 (null while the
    * needed lags are undefined). Body = |c−o|, range = h−l. */
  def cdlPatterns: DataFrame = df.withColumns(candleDefs.wave1.toMap)

  /** Second wave of native candle patterns (reference candles/
    * cdl_pattern.py TA-Lib delegation — self-contained declared specs, no
    * TA-Lib): 2-candle reversals (piercing, dark cloud, hanging man,
    * inverted hammer), 3-candle stars and soldiers/crows, and the doji
    * family. Null while the needed lags are undefined; else 1.0/0.0. */
  def cdlPatterns2: DataFrame = df.withColumns(candleDefs.wave2.toMap)

  /** Third wave (reference candles/cdl_pattern.py TA-Lib delegation):
    * three-inside/outside reversals, belt holds, doji stars, kicking. */
  def cdlPatterns3: DataFrame = df.withColumns(candleDefs.wave3.toMap)

  /** Fourth wave (reference candles/cdl_pattern.py TA-Lib delegation):
    * the Equal-tolerance (0.05·sma(h−l,10)) two/three-candle patterns. */
  def cdlPatterns4: DataFrame = df.withColumns(candleDefs.wave4.toMap)

  def cdlPatterns5: DataFrame =
    df.withColumns(candleDefs.wave5.toMap)

  /** Sixth (final) wave of native candle patterns — completes the TA-Lib
    * cdl_pattern set at 61/61 functions: line strikes, south stars,
    * advance block, breakaway, concealing baby swallow, doji-star
    * variants, gap side-by-side white lines, harami cross, hikkake (+
    * modified hikkake), identical three crows, ladder bottom, long/short
    * line, mat hold, stalled pattern, takuri, gap three methods, kicking
    * by length. Same declared-spec conventions as waves 1–5. */
  def cdlPatterns6: DataFrame =
    df.withColumns(candleDefs.wave6.toMap)

  /** Doji: |c−o| < factor·sma(h−l, n) (reference candles/cdl_doji.py). */
  def cdlDoji(n: Int = 10, factor: Double = 0.1): DataFrame =
    df.withColumn(
      s"cdl_doji_$n",
      when(rmean(high - low, n).isNotNull && abs(close - open) < lit(factor) * rmean(high - low, n), 1.0)
        .otherwise(when(rmean(high - low, n).isNotNull, 0.0))
    )

  // ============================================== adaptive MAs (LinRecur) =====
  /** Kaufman adaptive MA (reference overlap/kama.py, declared spec): ER =
    * |Δₙc|/Σ|Δc| over n; sc = (ER·(2/(f+1) − 2/(s+1)) + 2/(s+1))²; seed =
    * close at first row with sc defined, then y = (1−sc)·y' + sc·x. */
  def kama(n: Int = 10, fast: Int = 2, slow: Int = 30, src: String = "close"): DataFrame = {
    val x = c(src)
    val fsc = 2.0 / (fast + 1); val ssc = 2.0 / (slow + 1)
    val er = sdiv(abs(x - shift(x, n)), rsum(abs(diff(x)), n))
    val sc = pow(er * (fsc - ssc) + ssc, 2.0)
    df.withColumn("__sc", sc)
      .withColumn(
        s"kama_$n",
        graft.functions.wf
          .linrec(lit(1.0) - col("__sc"), col("__sc") * x, when(col("__sc").isNotNull, x))
          .over(cum)
      )
      .drop("__sc")
  }

  /** VIDYA (reference overlap/vidya.py, declared): α = |CMO_n|/100 ·
    * 2/(n+1); same seeded recursion as kama. CMO in rolling-sum mode. */
  def vidya(n: Int = 10, src: String = "close"): DataFrame = {
    val x = c(src)
    val d1 = diff(x)
    val up = when(d1 > 0, d1).otherwise(0.0)
    val dn = when(d1 < 0, -d1).otherwise(0.0)
    val cmoAbs = sdiv(abs(rsum(up, n) - rsum(dn, n)), rsum(up, n) + rsum(dn, n))
    val alpha = cmoAbs * (2.0 / (n + 1))
    df.withColumn("__al", alpha)
      .withColumn(
        s"vidya_$n",
        graft.functions.wf
          .linrec(lit(1.0) - col("__al"), col("__al") * x, when(col("__al").isNotNull, x))
          .over(cum)
      )
      .drop("__al")
  }

  // ============================================== closed-form recursions =====
  /** Linear decay y = max(x, y'−1/n, 0) (reference trend/decay.py).
    * Associative closed form: y_t = max(0, max_{i≤t}(x_i + i/n) − t/n) —
    * fully parallel (no sequential pass). Precision note: i/n grows with
    * series length; exact to 1e-6 for series < ~1e8 rows per key. */
  def decay(n: Int = 5, src: String = "close"): DataFrame =
    df.withColumn("__rn", rn.cast("double"))
      .withColumn(
        s"decay_$n",
        greatest(max(c(src) + col("__rn") / n).over(cum) - col("__rn") / n, lit(0.0))
      )
      .drop("__rn")

  /** Negative Volume Index (reference volume/nvi.py, declared): base 1000,
    * compounds pct_change(close) only on volume-down rows. Log-space
    * closed form: 1000·exp(Σ log1p(ret·1{Δv<0})); null after ret ≤ −1. */
  def nvi(initial: Double = 1000.0): DataFrame = nviPvi(true, initial, "nvi")

  /** Positive Volume Index: same on volume-up rows. */
  def pvi(initial: Double = 1000.0): DataFrame = nviPvi(false, initial, "pvi")

  private def nviPvi(onDown: Boolean, initial: Double, out: String): DataFrame = {
    val ret = pctChange(close)
    val gate = if (onDown) diff(volume) < 0 else diff(volume) > 0
    val term = when(gate && ret.isNotNull, log(lit(1.0) + ret)).otherwise(0.0)
    df.withColumn(out, lit(initial) * exp(sum(term).over(cum)))
  }

  // ============================================== REC kernel indicators =====
  import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField}
  private def dbl(name: String) = StructField(name, DoubleType, nullable = true)

  /** Parabolic SAR — RecKernels.Psar for the declared state machine. Round-9:
    * ONE struct-valued window fold (functions.RecFolds.PsarFold) — the
    * branching trend/EP/AF recursion lives in the aggregation buffer, so
    * psar shares the W-class Exchange instead of re-repartitioning
    * through mapPartitions. The kernel spelling it bit-matches is the
    * reference in RecFoldSpec (and stays on the streaming path). */
  def psar(af0: Double = 0.02, afStep: Double = 0.02, maxAf: Double = 0.2): DataFrame = {
    val s = call_function(
      "graft_psar_k",
      high.cast("double"), low.cast("double"), close.cast("double"),
      lit(af0), lit(afStep), lit(maxAf)
    ).over(prim.cum)
    df.withColumn("__ps", s)
      .withColumns(
        scala.collection.immutable.ListMap(
          "psar_long" -> col("__ps.long"),
          "psar_short" -> col("__ps.short"),
          "psar_af" -> col("__ps.af"),
          "psar_reversal" -> col("__ps.rev")
        )
      )
      .drop("__ps")
  }

  /** Supertrend — RecKernels.Supertrend for the state machine; round-9 fold
    * (functions.RecFolds.SupertrendFold), same rationale as psar. */
  def supertrend(n: Int = 7, mult: Double = 3.0): DataFrame = {
    val s = call_function(
      "graft_supertrend_k",
      high.cast("double"), low.cast("double"), close.cast("double"),
      lit(n), lit(mult)
    ).over(prim.cum)
    df.withColumn("__st", s)
      .withColumns(
        scala.collection.immutable.ListMap(
          s"supert_$n" -> col("__st.st"),
          s"supertd_$n" -> col("__st.dir"),
          s"supertl_$n" -> col("__st.long"),
          s"superts_$n" -> col("__st.short")
        )
      )
      .drop("__st")
  }

  /** Heikin-Ashi bars — see RecKernels.HeikinAshi. */
  def ha: DataFrame = {
    // round-9 struct fold (RecFolds.HaFold); RecKernels.HeikinAshi stays as the
    // spec reference and the streaming kernel — same for every fold
    // reroute below
    val s = call_function(
      "graft_ha_k",
      open.cast("double"), high.cast("double"), low.cast("double"), close.cast("double")
    ).over(prim.cum)
    df.withColumn("__ha", s)
      .withColumns(
        scala.collection.immutable.ListMap(
          "ha_open" -> col("__ha.ha_open"),
          "ha_high" -> col("__ha.ha_high"),
          "ha_low" -> col("__ha.ha_low"),
          "ha_close" -> col("__ha.ha_close")
        )
      )
      .drop("__ha")
  }

  /** McGinley Dynamic — RecKernels.Mcgd; round-9 fold (RecFolds.McgdFold). */
  def mcgd(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(
      s"mcgd_$n",
      call_function("graft_mcgd_k", c(src).cast("double"), lit(n)).over(prim.cum)
    )

  /** 1-D Kalman local-level filter — RecKernels.Kalman; round-9 struct fold
    * (RecFolds.KalmanFold). */
  def kalman(q: Double = 0.01, r: Double = 1.0, src: String = "close"): DataFrame = {
    val s = call_function("graft_kalman_k", c(src).cast("double"), lit(q), lit(r)).over(prim.cum)
    df.withColumn("__kf", s)
      .withColumns(
        scala.collection.immutable.ListMap("kf" -> col("__kf.kf"), "kf_gain" -> col("__kf.kf_gain"))
      )
      .drop("__kf")
  }

  /** Two-sided CUSUM changepoint detection — see rec.Cusum. Two modes:
    * with explicit `mu`/`sd` (a trained reference distribution) the
    * standardization is a pair of literals — causal, streamable
    * (StreamingTa), Strategy-compilable; without them the per-series μ/σ
    * are a key-sized aggregate broadcast back onto the big side (full-
    * series retrospective mode — NOT causal, so deliberately not
    * streamable), and the kernel's repartition stays the only full-data
    * shuffle. */
  def cusum(
      k: Double = 0.5,
      h: Double = 5.0,
      src: String = "close",
      mu: Option[Double] = None,
      sd: Option[Double] = None
  ): DataFrame = {
    val staged = (mu, sd) match {
      case (Some(m), Some(s0)) =>
        df.withColumn("__mu", lit(m)).withColumn("__sd", lit(s0))
      case _ =>
        val stats = df
          .groupBy("series_id")
          .agg(
            round(avg(col(src)), 6).as("__mu"),
            round(stddev_samp(col(src)), 6).as("__sd")
          )
        df.join(broadcast(stats), Seq("series_id"), "left")
    }
    rec
      .perSeries(
        staged,
        Seq(dbl("cusum_pos"), dbl("cusum_neg"), StructField("cusum_alarm", LongType, nullable = true))
      )(() => new rec.Cusum(k, h, src))
      .drop("__mu", "__sd")
  }

  /** Ehlers 2-pole super smoother — see RecKernels.Ssf. */
  def ssf(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(
      s"ssf_$n",
      call_function("graft_ssf_k", c(src).cast("double"), lit(n)).over(prim.cum)
    )

  /** Holt-Winter MA — RecKernels.Hwma; round-9 fold (RecFolds.HwmaFold). */
  def hwma(na: Double = 0.2, nb: Double = 0.1, nc: Double = 0.1, src: String = "close"): DataFrame =
    df.withColumn(
      "hwma",
      call_function("graft_hwma_k", c(src).cast("double"), lit(na), lit(nb), lit(nc)).over(prim.cum)
    )

  /** Fisher transform (reference momentum/fisher.py): rolling position in
    * the HH/LL range feeds the v/fisher recursion (RecKernels.Fisher). */
  def fisher(n: Int = 9): DataFrame = {
    // round-9 struct fold (RecFolds.FisherFold) over the staged range
    // position — the windowed input stays a column, the recursion folds
    val m = (high + low) / 2.0
    val hh = rmax(m, n); val ll = rmin(m, n)
    val staged = df.withColumn(
      "__pos",
      lit(2.0) * (sdiv(m - ll, hh - ll) - 0.5)
    )
    staged
      .withColumn("__fish", call_function("graft_fisher_k", col("__pos").cast("double")).over(prim.cum))
      .withColumns(
        scala.collection.immutable.ListMap(
          s"fisher_$n" -> col("__fish.fisher"),
          s"fisher_signal_$n" -> col("__fish.signal")
        )
      )
      .drop("__pos", "__fish")
  }

  /** TD Sequential setup counts — see RecKernels.TdSeq. */
  def tdSeq: DataFrame = {
    // round-9 struct fold (RecFolds.TdSeqFold — the close[4] lag rides
    // four shift slots, so no staged column is needed)
    val s = call_function("graft_td_seq_k", close.cast("double")).over(prim.cum)
    df.withColumn("__td", s)
      .withColumns(
        scala.collection.immutable.ListMap(
          "td_seq_up" -> col("__td.td_seq_up"),
          "td_seq_dn" -> col("__td.td_seq_dn")
        )
      )
      .drop("__td")
  }

  /** QQE (reference momentum/qqe.py): RSI → ema smooth → double-Wilder
    * DAR bands → trailing state machine (RecKernels.Qqe). */
  def qqe(n: Int = 14, smooth: Int = 5, factor: Double = 4.236): DataFrame = {
    // round-9 struct fold (RecFolds.QqeFold) over the staged
    // smoothed-RSI / DAR chain
    val wilders = n * 2 - 1
    val d0 = rsiAs(df, "close", "__qrsi", n)
    val d1 = stage.ema(d0, "__qrsi", "__rsima", smooth)
    val d2 = d1.withColumn("__adr", abs(diff(col("__rsima"))))
    val d3 = d2.withColumn("__matr", prim.ewm(col("__adr"), 1.0 / wilders))
    val d4 = d3.withColumn("__dar", prim.ewm(col("__matr"), 1.0 / wilders) * factor)
    d4.withColumn(
        "__qqe",
        call_function("graft_qqe_k", col("__rsima").cast("double"), col("__dar").cast("double"))
          .over(prim.cum)
      )
      .withColumns(
        scala.collection.immutable.ListMap(
          s"qqe_$n" -> col("__qqe.qqe"),
          s"qqe_trend_$n" -> col("__qqe.trend"),
          s"qqe_long_$n" -> col("__qqe.long"),
          s"qqe_short_$n" -> col("__qqe.short")
        )
      )
      .drop("__qrsi", "__rsima", "__adr", "__matr", "__dar", "__qqe")
  }

  /** Jurik RSX — see RecKernels.Rsx. */
  def rsx(n: Int = 14): DataFrame =
    // round-9 fold (RecFolds.RsxFold — twelve named filter slots, no ring)
    df.withColumn(
      s"rsx_$n",
      call_function("graft_rsx_k", close.cast("double"), lit(n)).over(prim.cum)
    )

  /** Ehlers Even Better SineWave — RecKernels.Ebsw; round-9 fold
    * (RecFolds.EbswFold). */
  def ebsw(n: Int = 40, bars: Int = 10): DataFrame =
    df.withColumn(
      s"ebsw_$n",
      call_function("graft_ebsw_k", close.cast("double"), lit(n), lit(bars)).over(prim.cum)
    )

  /** Holt-Winter channel — RecKernels.Hwc; round-9 struct fold
    * (RecFolds.HwcFold). */
  def hwc(na: Double = 0.2, nb: Double = 0.1, nc: Double = 0.1, nd: Double = 0.1, k: Double = 1.0): DataFrame = {
    val s = call_function(
      "graft_hwc_k", close.cast("double"), lit(na), lit(nb), lit(nc), lit(nd), lit(k)
    ).over(prim.cum)
    df.withColumn("__hwc", s)
      .withColumns(
        scala.collection.immutable.ListMap(
          "hwc_mid" -> col("__hwc.hwc_mid"),
          "hwc_upper" -> col("__hwc.hwc_upper"),
          "hwc_lower" -> col("__hwc.hwc_lower")
        )
      )
      .drop("__hwc")
  }

  /** Jurik MA — see rec.Jma (rows-only oracle; ring-buffer state). */
  def jma(n: Int = 7, phase: Double = 0.0): DataFrame =
    rec.perSeries(df, Seq(dbl(s"jma_$n")))(() => new rec.Jma(n, phase))

  /** Gann HiLo activator (reference overlap/hilo.py): sma(high,hn) /
    * sma(low,ln) bands + trend state machine (RecKernels.Hilo). */
  def hilo(hn: Int = 13, ln: Int = 21): DataFrame = {
    // round-9 struct fold (RecFolds.HiloFold) over the staged MA bands
    val staged = df
      .withColumn("__mh", rmean(high, hn))
      .withColumn("__ml", rmean(low, ln))
    staged
      .withColumn(
        "__hilo",
        call_function(
          "graft_hilo_k",
          close.cast("double"), col("__mh").cast("double"), col("__ml").cast("double")
        ).over(prim.cum)
      )
      .withColumns(
        scala.collection.immutable.ListMap(
          "hilo" -> col("__hilo.hilo"),
          "hilo_long" -> col("__hilo.hilo_long"),
          "hilo_short" -> col("__hilo.hilo_short")
        )
      )
      .drop("__mh", "__ml", "__hilo")
  }

  // ============================================== more compositions =====
  /** T3 (reference overlap/t3.py): six chained sma-seeded emas, Tillson
    * coefficients on e3..e6 with a = 0.7. */
  def t3(n: Int = 10, a: Double = 0.7, src: String = "close"): DataFrame = {
    val c1 = -a * a * a
    val c2 = 3.0 * a * a + 3.0 * a * a * a
    val c3 = -6.0 * a * a - 3.0 * a - 3.0 * a * a * a
    val c4 = 1.0 + 3.0 * a + a * a * a + 3.0 * a * a
    val d1 = stage.ema(df, src, "__e1", n)
    val d2 = stage.ema(d1, "__e1", "__e2", n)
    val d3 = stage.ema(d2, "__e2", "__e3", n)
    val d4 = stage.ema(d3, "__e3", "__e4", n)
    val d5 = stage.ema(d4, "__e4", "__e5", n)
    val d6 = stage.ema(d5, "__e5", "__e6", n)
    d6.withColumn(
      s"t3_$n",
      lit(c1) * col("__e6") + lit(c2) * col("__e5") + lit(c3) * col("__e4") + lit(c4) * col("__e3")
    ).drop("__e1", "__e2", "__e3", "__e4", "__e5", "__e6")
  }

  /** Zero-lag EMA (reference overlap/zlma.py): ema(2x − x.shift(⌊(n−1)/2⌋), n). */
  def zlma(n: Int = 10, src: String = "close"): DataFrame = {
    val lagN = (n - 1) / 2
    val d0 = df.withColumn("__zl", lit(2.0) * c(src) - shift(c(src), lagN))
    stage.ema(d0, "__zl", s"zlma_$n", n).drop("__zl")
  }

  /** Directional Movement (reference momentum/dm.py): ±DM rma-smoothed. */
  def dm(n: Int = 14): DataFrame = {
    val up = diff(high)
    val dn = -diff(low)
    val pdm = when(up > dn && up > 0, up).otherwise(when(up.isNull || dn.isNull, lit(null)).otherwise(0.0))
    val mdm = when(dn > up && dn > 0, dn).otherwise(when(up.isNull || dn.isNull, lit(null)).otherwise(0.0))
    df.withColumn(s"dmp_$n", rmaOf(pdm, n)).withColumn(s"dmn_$n", rmaOf(mdm, n))
  }

  /** ADX (reference trend/adx.py, declared): DI± = 100·rma(±DM,n)/atr(n);
    * DX = 100·|DI+−DI−|/(DI++DI−); ADX = rma(DX, lensig). */
  def adx(n: Int = 14, lensig: Int = 14): DataFrame = {
    // round-9 struct fold (SeededComposites.AdxFold): ±DM/TR/DX Wilder
    // accumulators chained in one buffer (was a 5-stage rmaOf chain)
    val a = call_function(
      "graft_adx_k",
      high.cast("double"), low.cast("double"), close.cast("double"),
      lit(n), lit(lensig)
    ).over(prim.cum)
    df.withColumn("__adx", a)
      .withColumns(
        scala.collection.immutable.ListMap(
          s"dmp_$n" -> col("__adx.dmp"),
          s"dmn_$n" -> col("__adx.dmn"),
          s"dip_$n" -> col("__adx.dip"),
          s"dim_$n" -> col("__adx.dim"),
          s"adx_$lensig" -> col("__adx.adx")
        )
      )
      .drop("__adx")
  }

  /** Keltner channel (reference volatility/kc.py, declared sma-seeded ema
    * basis + ema of true range). */
  def kc(n: Int = 20, scalar: Double = 2.0): DataFrame = {
    // round-9 struct fold (SeededComposites.KcFold): basis + band
    // seeded-ema chains and the true-range prev-close slot in one buffer
    val s = call_function(
      "graft_kc_k",
      high.cast("double"), low.cast("double"), close.cast("double"), lit(n), lit(scalar)
    ).over(prim.cum)
    df.withColumn("__kc", s)
      .withColumns(
        scala.collection.immutable.ListMap(
          s"kcb_$n" -> col("__kc.kcb"),
          s"kcl_$n" -> col("__kc.kcl"),
          s"kcu_$n" -> col("__kc.kcu")
        )
      )
      .drop("__kc")
  }

  /** Mass index (reference volatility/massi.py): Σ₍slow₎ ema(h−l,fast)/
    * ema(ema(h−l,fast),fast). */
  def massi(fast: Int = 9, slow: Int = 25): DataFrame = {
    val d0 = df.withColumn("__hr", high - low)
    val d1 = stage.ema(d0, "__hr", "__e1", fast)
    val d2 = stage.ema(d1, "__e1", "__e2", fast)
    d2.withColumn(s"massi_${fast}_$slow", rsum(sdiv(col("__e1"), col("__e2")), slow))
      .drop("__hr", "__e1", "__e2")
  }

  /** Relative Volatility Index (reference volatility/rvi.py, declared rma
    * smoothing): stdev split by close-move sign → RSI-like on volatility. */
  def rvi(n: Int = 14): DataFrame = {
    val sd = rstd(close, n)
    val d1 = diff(close)
    val pos = when(d1.isNull || sd.isNull, lit(null)).otherwise(when(d1 > 0, sd).otherwise(0.0))
    val neg = when(d1.isNull || sd.isNull, lit(null)).otherwise(when(d1 < 0, sd).otherwise(0.0))
    df.withColumn("__p", rmaOf(pos, n))
      .withColumn("__q", rmaOf(neg, n))
      .withColumn(s"rvi_$n", lit(100.0) * sdiv(col("__p"), col("__p") + col("__q")))
      .drop("__p", "__q")
  }

  /** Elder thermometer (reference volatility/thermo.py): max(|Δh|, |Δl|),
    * sma-seeded ema smoothing. */
  def thermo(n: Int = 20): DataFrame = {
    val t = greatest(abs(diff(high)), abs(diff(low)))
    val d0 = df.withColumn("thermo", t)
    stage.ema(d0, "thermo", s"thermo_ma_$n", n)
  }

  /** Aberration (reference volatility/aberration.py): zg = sma(hlc3, n);
    * bands ± atr(atrN). */
  def aberration(n: Int = 5, atrN: Int = 15): DataFrame = {
    val d0 = new Ta(df).atr(atrN)
    val zg = rmean((high + low + close) / 3.0, n)
    // one level over the atr stage: identical zg window subtrees dedupe
    d0.withColumns(
        scala.collection.immutable.ListMap(
          s"abe_zg_$n" -> zg,
          s"abe_sg_$n" -> (zg + col(s"atr_$atrN")),
          s"abe_xg_$n" -> (zg - col(s"atr_$atrN"))
        )
      )
      .drop(s"atr_$atrN", "true_range")
  }

  /** Chande-Kroll stops (reference trend/cksp.py, declared): long =
    * rmax_q(rmax_p(high) − x·atr(p)); short symmetric. */
  def cksp(p: Int = 10, x: Double = 1.0, q: Int = 9): DataFrame = {
    val d0 = new Ta(df).atr(p)
    val ls0 = rmax(high, p) - lit(x) * col(s"atr_$p")
    val ss0 = rmin(low, p) + lit(x) * col(s"atr_$p")
    d0.withColumns(
        scala.collection.immutable.ListMap("__ls0" -> ls0, "__ss0" -> ss0)
      )
      .withColumns(
        scala.collection.immutable.ListMap(
          s"cksp_long_$p" -> rmax(col("__ls0"), q),
          s"cksp_short_$p" -> rmin(col("__ss0"), q)
        )
      )
      .drop("__ls0", "__ss0", s"atr_$p", "true_range")
  }

  /** Detrended price oscillator (reference trend/dpo.py, centered=True
    * default: close_t − sma_{t+⌊n/2⌋+1} — uses FUTURE data, non-streaming). */
  def dpo(n: Int = 20, centered: Boolean = true): DataFrame = {
    val t = n / 2 + 1
    val smaN = rmean(close, n)
    val v =
      if (centered) close - shift(smaN, -t) // lead
      else shift(close, t) - smaN
    df.withColumn(s"dpo_$n", v)
  }

  /** Percentage volume oscillator (reference momentum/pvo.py): sma-seeded
    * emas over volume. */
  def pvo(fast: Int = 12, slow: Int = 26, sig: Int = 9): DataFrame = {
    val d1 = stage.ema(df, "volume", "__vf", fast)
    val d2 = stage.ema(d1, "volume", "__vs", slow)
    val d3 = d2.withColumn(s"pvo_${fast}_$slow", lit(100.0) * sdiv(col("__vf") - col("__vs"), col("__vs")))
    val d4 = stage.ema(d3, s"pvo_${fast}_$slow", s"pvos_${fast}_$slow", sig)
    d4.withColumn(s"pvoh_${fast}_$slow", col(s"pvo_${fast}_$slow") - col(s"pvos_${fast}_$slow"))
      .drop("__vf", "__vs")
  }

  /** BRAR (reference momentum/brar.py): AR = 100·Σ(h−o)/Σ(o−l);
    * BR = 100·Σmax(0,h−pc)/Σmax(0,pc−l), over n. */
  def brar(n: Int = 26): DataFrame = {
    val pc = shift(close, 1)
    val hcy = when(pc.isNull, lit(null)).otherwise(greatest(lit(0.0), high - pc))
    val cyl = when(pc.isNull, lit(null)).otherwise(greatest(lit(0.0), pc - low))
    df.withColumn(s"ar_$n", lit(100.0) * sdiv(rsum(high - open, n), rsum(open - low, n)))
      .withColumn(s"br_$n", lit(100.0) * sdiv(rsum(hcy, n), rsum(cyl, n)))
  }

  /** A/D oscillator (reference volume/adosc.py): ema(ad,fast) − ema(ad,slow). */
  def adosc(fast: Int = 3, slow: Int = 10): DataFrame = {
    val d0 = new Ta(df).ad
    val d1 = stage.ema(d0, "ad", "__af", fast)
    val d2 = stage.ema(d1, "ad", "__as", slow)
    d2.withColumn(s"adosc_${fast}_$slow", col("__af") - col("__as")).drop("__af", "__as")
  }

  /** Pretty Good Oscillator (reference momentum/pgo.py):
    * (c − sma(n)) / ema(true_range, n). */
  def pgo(n: Int = 14): DataFrame = {
    val d0 = stage.ema(new Ta(df).trueRange, "true_range", "__etr", n)
    d0.withColumn(s"pgo_$n", sdiv(close - rmean(close, n), col("__etr")))
      .drop("__etr", "true_range")
  }

  /** TTM trend (reference trend/ttm_trend.py): close vs sma(hl2, n) → ±1. */
  def ttmTrend(n: Int = 6): DataFrame =
    df.withColumn(
      s"ttm_trend_$n",
      when(rmean((high + low) / 2.0, n).isNull, lit(null))
        .otherwise(when(close > rmean((high + low) / 2.0, n), 1.0).otherwise(-1.0))
    )

  /** long_run flags (reference trend/long_run.py): potential bottom
    * (fast↑ & slow↓) or both↑ over n rows. */
  def longRun(fastCol: String, slowCol: String, n: Int = 2, out: String = "long_run"): DataFrame = {
    val fInc = diff(c(fastCol), n) > 0
    val sInc = diff(c(slowCol), n) > 0
    val sDec = diff(c(slowCol), n) < 0
    df.withColumn(out, when((fInc && sDec) || (fInc && sInc), 1.0).otherwise(0.0))
  }

  /** short_run flags (reference trend/short_run.py). */
  def shortRun(fastCol: String, slowCol: String, n: Int = 2, out: String = "short_run"): DataFrame = {
    val fDec = diff(c(fastCol), n) < 0
    val sInc = diff(c(slowCol), n) > 0
    val sDec = diff(c(slowCol), n) < 0
    df.withColumn(out, when((fDec && sInc) || (fDec && sDec), 1.0).otherwise(0.0))
  }

  /** Archer MA trends (reference trend/amat.py): long/short run of
    * ema(fast) vs ema(slow). */
  def amat(fast: Int = 8, slow: Int = 21, n: Int = 2): DataFrame = {
    val d1 = stage.ema(df, "close", "__maf", fast)
    val d2 = stage.ema(d1, "close", "__mas", slow)
    val d3 = new Ta(d2).longRun("__maf", "__mas", n, s"amat_lr_$fast")
    new Ta(d3).shortRun("__maf", "__mas", n, s"amat_sr_$fast").drop("__maf", "__mas")
  }

  /** Cross-driven trade signals (reference trend/xsignals.py): trend = 1
    * from a cross-above until the next cross-below, then tsignals. */
  def xsignals(a: String, b: String): DataFrame = {
    val d0 = new Ta(df).crossAbove(a, b, "__xup")
    val pa = shift(c(a), 1); val pb = shift(c(b), 1)
    val xdn = when(c(a) < c(b) && pa.isNotNull && pb.isNotNull && pa >= pb, 1.0).otherwise(0.0)
    val d1 = d0.withColumn("__xdn", xdn)
    val ev = when(col("__xup") === 1.0, 1.0).otherwise(when(col("__xdn") === 1.0, 0.0))
    val d2 = d1.withColumn("__trend", coalesce(last(ev, ignoreNulls = true).over(cum), lit(0.0)))
    new Ta(d2).tsignals("__trend").drop("__xup", "__xdn", "__trend")
  }

  /** KDJ (reference momentum/kdj.py): RSV = fastK(n); K/D = α=1/3
    * recursive smoothing (seeded at first RSV); J = 3K − 2D. */
  def kdj(n: Int = 9, signal: Int = 3): DataFrame = {
    val ll = rmin(low, n); val hh = rmax(high, n)
    val rsv = lit(100.0) * sdiv(close - ll, hh - ll)
    val alpha = 1.0 / signal
    val d0 = df.withColumn("__rsv", rsv)
    val d1 = d0.withColumn(s"kdj_k_$n", prim.ewm(col("__rsv"), alpha))
    val d2 = d1.withColumn(s"kdj_d_$n", prim.ewm(col(s"kdj_k_$n"), alpha))
    d2.withColumn(s"kdj_j_$n", lit(3.0) * col(s"kdj_k_$n") - lit(2.0) * col(s"kdj_d_$n"))
      .drop("__rsv")
  }

  // ============================================== basic composites =====
  /** DEMA: 2·e1 − e2 over sma-seeded emas (reference overlap/dema.py). */
  /** DEMA: 2e1 − e2 — one cascaded fold (SeededComposites.DemaSeeded,
    * both ema levels in the aggregation buffer): the chained-ema cost
    * no longer grows with levels (SCALING.md `sqlfold`: dema fold ≈ ema
    * fold at 51M rows vs 1.6× for the chain). */
  def dema(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(
      s"dema_$n",
      call_function("graft_dema_k", c(src).cast("double"), lit(n)).over(prim.cum)
    )

  /** TEMA: 3e1 − 3e2 + e3 (reference overlap/tema.py), same cascade one
    * level deeper. */
  def tema(n: Int = 10, src: String = "close"): DataFrame =
    df.withColumn(
      s"tema_$n",
      call_function("graft_tema_k", c(src).cast("double"), lit(n)).over(prim.cum)
    )

  /** HMA: wma(2·wma(n/2) − wma(n), ⌊√n⌋) (reference overlap/hma.py). */
  def hma(n: Int = 10, src: String = "close"): DataFrame = {
    val half = n / 2
    val sq = math.sqrt(n.toDouble).toInt
    df.withColumn("__h", lit(2.0) * prim.wma(c(src), half) - prim.wma(c(src), n))
      .withColumn(s"hma_$n", prim.wma(col("__h"), sq))
      .drop("__h")
  }

  /** MACD on UNseeded adjust=False ewms (declared spec SURVEY §2.B).
    * Round-8: one struct-valued fold (SeededComposites.MacdSeeded) —
    * the three ewm accumulators update in a single window aggregate;
    * the staged two-level spelling it bit-matches is the reference in
    * SeededCompositeSpec. */
  def macd(fast: Int = 12, slow: Int = 26, sig: Int = 9, src: String = "close"): DataFrame = {
    val m = call_function(
      "graft_macd_k", c(src).cast("double"), lit(fast), lit(slow), lit(sig)
    ).over(prim.cum)
    df.withColumn("__m", m)
      .withColumns(
        scala.collection.immutable.ListMap(
          "macd" -> col("__m.macd"),
          "macds" -> col("__m.macds"),
          "macdh" -> col("__m.macdh")
        )
      )
      .drop("__m")
  }

  def logReturn(n: Int = 1, cumulative: Boolean = false, src: String = "close"): DataFrame = {
    val x = c(src)
    val v =
      if (cumulative) sln(sdiv(x, first(x, ignoreNulls = true).over(cum)))
      else sln(sdiv(x, shift(x, n)))
    df.withColumn(if (cumulative) "log_return_cum" else s"log_return_$n", v)
  }

  def percentReturn(n: Int = 1, cumulative: Boolean = false, src: String = "close"): DataFrame = {
    val x = c(src)
    val v =
      if (cumulative) sdiv(x, first(x, ignoreNulls = true).over(cum)) - 1.0
      else sdiv(x, shift(x, n)) - 1.0
    df.withColumn(if (cumulative) "percent_return_cum" else s"percent_return_$n", v)
  }

  /** Drawdown family (reference performance/drawdown.py). */
  def drawdown: DataFrame = {
    val mx = cummax(close)
    df.withColumns(
      scala.collection.immutable.ListMap(
        "dd" -> (mx - close),
        "dd_pct" -> (lit(1.0) - sdiv(close, mx)),
        "dd_log" -> (sln(mx) - sln(close))
      )
    )
  }

  // rolling statistics (reference statistics/*.py)
  def stdev(n: Int = 30, src: String = "close"): DataFrame =
    graft.plans.Halo.auto(df, n)(_.withColumn(s"stdev_$n", rstd(c(src), n)))
  def variance(n: Int = 30, src: String = "close"): DataFrame =
    df.withColumn(s"variance_$n", rvar(c(src), n))
  def median(n: Int = 30, src: String = "close"): DataFrame =
    df.withColumn(s"median_$n", rmedian(c(src), n))
  def quantile(n: Int = 30, q: Double = 0.5, src: String = "close"): DataFrame =
    df.withColumn(s"quantile_$n", rquantile(c(src), q, n))
  def mad(n: Int = 30, src: String = "close"): DataFrame =
    stage.mad(df, src, s"mad_$n", n)
  def skew(n: Int = 30, src: String = "close"): DataFrame =
    df.withColumn(s"skew_$n", rskew(c(src), n))
  def kurtosis(n: Int = 30, src: String = "close"): DataFrame =
    df.withColumn(s"kurtosis_$n", rkurt(c(src), n))
  def zscore(n: Int = 30, src: String = "close"): DataFrame =
    df.withColumn(s"zscore_$n", sdiv(c(src) - rmean(c(src), n), rstd(c(src), n)))

  /** Rolling Shannon entropy of the value share within the window
    * (reference statistics/entropy.py): −Σ p·log_b(p), p = x/Σx. */
  def entropy(n: Int = 10, base: Double = 2.0, src: String = "close"): DataFrame = {
    val lnB = math.log(base)
    val x = c(src)
    df.withColumn("__rs", rsum(x, n))
      .withColumn("__p", sdiv(x, col("__rs")))
      .withColumn("__et", when(col("__p") > 0, -col("__p") * log(col("__p")) / lnB))
      .withColumn(s"entropy_$n", rsum(col("__et"), n))
      .drop("__rs", "__p", "__et")
  }

  /** Slope (reference momentum/slope.py): Δₙ/n, optionally as angle. */
  def slope(n: Int = 1, asAngle: Boolean = false, src: String = "close"): DataFrame = {
    val v = diff(c(src), n) / n.toDouble
    df.withColumn(s"slope_$n", if (asAngle) atan(v) else v)
  }

  // ============================================== weighted-window MAs =====
  /** Weighted dot over the last n rows; `weights(i)` applies to window
    * position i with i=0 the OLDEST row (pandas rolling.apply order).
    * Normalized by Σw. Null until the series holds n rows. */
  private def wdotMa(out: String, x: Column, weights: Seq[Double]): DataFrame = {
    val s = weights.sum
    // prim.wdot indexes by lag (0 = newest) → reverse to window order
    df.withColumn(out, gated(x, weights.size)(wdot(x, weights.reverse.map(_ / s))))
  }

  /** Arnaud Legoux MA (reference overlap/alma.py): gaussian weights,
    * m = offset·(n−1), s = n/sigma, wᵢ = exp(−(i−m)²/(2s²)). */
  def alma(n: Int = 10, sigma: Double = 6.0, offset: Double = 0.85, src: String = "close"): DataFrame = {
    val m = offset * (n - 1)
    val s = n / sigma
    val w = (0 until n).map(i => math.exp(-(i - m) * (i - m) / (2 * s * s)))
    wdotMa(s"alma_$n", c(src), w)
  }

  /** Fibonacci-weighted MA (reference overlap/fwma.py): ascending fibs,
    * newest row gets the largest weight. */
  def fwma(n: Int = 10, src: String = "close"): DataFrame = {
    val fib = Iterator.iterate((1.0, 1.0)) { case (a, b) => (b, a + b) }.map(_._1).take(n).toSeq
    wdotMa(s"fwma_$n", c(src), fib)
  }

  /** Pascal-triangle-weighted MA (reference overlap/pwma.py). */
  def pwma(n: Int = 10, src: String = "close"): DataFrame = {
    val row = (0 until n).scanLeft(1.0) { case (acc, k) => acc * (n - 1 - k) / (k + 1) }.take(n)
    wdotMa(s"pwma_$n", c(src), row)
  }

  /** Symmetric-triangle-weighted MA (reference overlap/swma.py). */
  def swma(n: Int = 10, src: String = "close"): DataFrame = {
    val half = (n + 1) / 2
    val tri = (1 to half) ++ (if (n % 2 == 0) (half to 1 by -1) else ((half - 1) to 1 by -1))
    wdotMa(s"swma_$n", c(src), tri.map(_.toDouble))
  }

  /** Sine-weighted MA (reference overlap/sinwma.py): sin((i+1)π/(n+1)). */
  def sinwma(n: Int = 10, src: String = "close"): DataFrame = {
    val w = (0 until n).map(i => math.sin((i + 1) * math.Pi / (n + 1)))
    wdotMa(s"sinwma_$n", c(src), w)
  }

  /** Triangular MA (reference overlap/trima.py): sma(sma(x, ⌈(n+1)/2⌉), ⌊n/2⌋+1). */
  def trima(n: Int = 10, src: String = "close"): DataFrame = {
    val half = (n + 1) / 2 + (if ((n + 1) % 2 == 0) 0 else 1) // ceil((n+1)/2)
    val second = n / 2 + 1
    df.withColumn("__t1", rmean(c(src), half))
      .withColumn(s"trima_$n", rmean(col("__t1"), second))
      .drop("__t1")
  }

  /** Ichimoku (reference overlap/ichimoku.py): tenkan/kijun = midprice,
    * spans shifted FORWARD by `shift` (lookahead-free), chikou shifted
    * back (LOOKAHEAD — excluded from streaming). */
  def ichimoku(tenkanN: Int = 9, kijunN: Int = 26, spanBN: Int = 52, shiftN: Int = 26): DataFrame = {
    val tenkan = (rmax(high, tenkanN) + rmin(low, tenkanN)) / 2.0
    val kijun = (rmax(high, kijunN) + rmin(low, kijunN)) / 2.0
    val spanB0 = (rmax(high, spanBN) + rmin(low, spanBN)) / 2.0
    df.withColumns(
        scala.collection.immutable.ListMap(
          "isa_raw" -> ((tenkan + kijun) / 2.0),
          "isb_raw" -> spanB0,
          s"its_$tenkanN" -> tenkan,
          s"iks_$kijunN" -> kijun
        )
      )
      .withColumns(
        scala.collection.immutable.ListMap(
          s"isa_$tenkanN" -> shift(col("isa_raw"), shiftN),
          s"isb_$kijunN" -> shift(col("isb_raw"), shiftN),
          s"ics_$kijunN" -> shift(close, -shiftN)
        )
      )
      .drop("isa_raw", "isb_raw")
  }

  /** Relative Vigor (reference momentum/rvgi.py): swma(c−o,4)/swma(h−l,4)
    * ratio of rolling sums + swma signal. */
  def rvgi(n: Int = 14, swmaN: Int = 4): DataFrame = {
    def sw(x: Column, out: String): Column = {
      val half = (swmaN + 1) / 2
      val tri = ((1 to half) ++ (if (swmaN % 2 == 0) (half to 1 by -1) else ((half - 1) to 1 by -1)))
        .map(_.toDouble)
      val s = tri.sum
      gated(x, swmaN)(wdot(x, tri.reverse.map(_ / s)))
    }
    val d0 = df
      .withColumn("__num", sw(close - open, "n"))
      .withColumn("__den", sw(high - low, "d"))
    val d1 = d0.withColumn(s"rvgi_$n", sdiv(rsum(col("__num"), n), rsum(col("__den"), n)))
    d1.withColumn(s"rvgis_$n", sw(col(s"rvgi_$n"), "s")).drop("__num", "__den")
  }

  /** SMI ergodic-style oscillator (declared spec, reference
    * momentum/smi.py is M-confidence): m = close − ½(HH(n)+LL(n));
    * smi = 100·ema(ema(m,f),s) / (ema(ema(HH−LL,f),s)/2). */
  def smi(n: Int = 10, fast: Int = 5, slow: Int = 3): DataFrame = {
    val hh = rmax(high, n); val ll = rmin(low, n)
    val d0 = df.withColumn("__m", close - (hh + ll) / 2.0).withColumn("__r", hh - ll)
    val d1 = stage.ema(d0, "__m", "__m1", fast)
    val d2 = stage.ema(d1, "__m1", "__m2", slow)
    val d3 = stage.ema(d2, "__r", "__r1", fast)
    val d4 = stage.ema(d3, "__r1", "__r2", slow)
    d4.withColumn(s"smi_$n", lit(100.0) * sdiv(col("__m2"), col("__r2") / 2.0))
      .drop("__m", "__r", "__m1", "__m2", "__r1", "__r2")
  }

  /** TTM squeeze (reference momentum/squeeze.py, declared): BB(bbN, 2)
    * inside KC(kcN, 1.5) flag + linreg-endpoint momentum of the price
    * delta vs the midline average. */
  def squeeze(bbN: Int = 20, kcN: Int = 20, momN: Int = 12): DataFrame = {
    val mid = rmean(close, bbN)
    val dev = rstd(close, bbN) * 2.0
    val bbl = mid - dev; val bbu = mid + dev
    val d0 = stage.ema(new Ta(df).trueRange, "close", "__basis", kcN)
    val d1 = stage.ema(d0, "true_range", "__band", kcN)
    val kcl = col("__basis") - lit(1.5) * col("__band")
    val kcu = col("__basis") + lit(1.5) * col("__band")
    val d2 = d1
      .withColumn("sqz_on", when(bbl.isNull || kcl.isNull, lit(null)).otherwise((bbl > kcl && bbu < kcu).cast("double")))
      .withColumn("sqz_off", when(bbl.isNull || kcl.isNull, lit(null)).otherwise((bbl < kcl && bbu > kcu).cast("double")))
      .withColumn("__delta", close - ((rmax(high, momN) + rmin(low, momN)) / 2.0 + rmean(close, momN)) / 2.0)
    stage
      .linreg(d2, "__delta", "__sqz", momN)
      .withColumn("sqz_mom", col("__sqz_tsf"))
      .drop("__delta", "__sqz_slope", "__sqz_intercept", "__sqz_tsf", "__sqz_r", "__basis", "__band", "true_range")
  }

  /** TTM squeeze pro (reference momentum/squeeze_pro.py): squeeze flags
    * against three KC multipliers (wide 2, normal 1.5, narrow 1). */
  def squeezePro(bbN: Int = 20, kcN: Int = 20, momN: Int = 12): DataFrame = {
    val mid = rmean(close, bbN)
    val dev = rstd(close, bbN) * 2.0
    val bbl = mid - dev; val bbu = mid + dev
    val d0 = stage.ema(new Ta(df).trueRange, "close", "__basis", kcN)
    val d1 = stage.ema(d0, "true_range", "__band", kcN)
    def onFlag(mult: Double): Column = {
      val kcl = col("__basis") - lit(mult) * col("__band")
      val kcu = col("__basis") + lit(mult) * col("__band")
      when(bbl.isNull || col("__basis").isNull, lit(null))
        .otherwise((bbl > kcl && bbu < kcu).cast("double"))
    }
    val d2 = d1
      .withColumn("sqzpro_on_wide", onFlag(2.0))
      .withColumn("sqzpro_on_normal", onFlag(1.5))
      .withColumn("sqzpro_on_narrow", onFlag(1.0))
      .withColumn("__delta", close - ((rmax(high, momN) + rmin(low, momN)) / 2.0 + rmean(close, momN)) / 2.0)
    stage
      .linreg(d2, "__delta", "__sqp", momN)
      .withColumn("sqzpro_mom", col("__sqp_tsf"))
      .drop("__delta", "__sqp_slope", "__sqp_intercept", "__sqp_tsf", "__sqp_r", "__basis", "__band", "true_range")
  }

  /** Schaff Trend Cycle (reference momentum/stc.py, declared): double
    * stochastic of the (sma-seeded) macd line with α=0.5 smoothing. */
  def stc(tc: Int = 10, fast: Int = 12, slow: Int = 26): DataFrame = {
    val d1 = stage.ema(df, "close", "__ef", fast)
    val d2 = stage.ema(d1, "close", "__es", slow)
    val d3 = d2.withColumn("__macd", col("__ef") - col("__es"))
    val st1 = lit(100.0) * sdiv(
      col("__macd") - rmin(col("__macd"), tc),
      rmax(col("__macd"), tc) - rmin(col("__macd"), tc)
    )
    val d4 = d3.withColumn("__st1", st1)
    val d5 = d4.withColumn("__d1", prim.ewm(col("__st1"), 0.5))
    val st2 = lit(100.0) * sdiv(
      col("__d1") - rmin(col("__d1"), tc),
      rmax(col("__d1"), tc) - rmin(col("__d1"), tc)
    )
    val d6 = d5.withColumn("__st2", st2)
    d6.withColumn(s"stc_$tc", prim.ewm(col("__st2"), 0.5))
      .withColumn(s"stc_macd_$tc", col("__macd"))
      .drop("__ef", "__es", "__macd", "__st1", "__d1", "__st2")
  }

  /** Inertia (reference momentum/inertia.py): linreg endpoint of rvi. */
  def inertia(n: Int = 20, rviN: Int = 14): DataFrame = {
    val d0 = new Ta(df).rvi(rviN)
    stage
      .linreg(d0, s"rvi_$rviN", "__in", n)
      .withColumn(s"inertia_$n", col("__in_tsf"))
      .drop("__in_slope", "__in_intercept", "__in_tsf", "__in_r", s"rvi_$rviN")
  }

  /** Archer OBV (reference volume/aobv.py): obv + fast/slow (sma-seeded)
    * emas + long/short run flags. */
  def aobv(fast: Int = 4, slow: Int = 12, runN: Int = 2): DataFrame = {
    val d0 = new Ta(df).obv
    val d1 = stage.ema(d0, "obv", s"obv_fast_$fast", fast)
    val d2 = stage.ema(d1, "obv", s"obv_slow_$slow", slow)
    val d3 = new Ta(d2).longRun(s"obv_fast_$fast", s"obv_slow_$slow", runN, "aobv_lr")
    new Ta(d3).shortRun(s"obv_fast_$fast", s"obv_slow_$slow", runN, "aobv_sr")
  }

  /** Klinger Volume Oscillator (reference volume/kvo.py, declared):
    * sv = sign(Δhlc3)·volume (null row 0); kvo = ewm-span(sv, fast) −
    * ewm-span(sv, slow); signal = ewm-span(kvo, sig). Unseeded ewms. */
  def kvo(fast: Int = 34, slow: Int = 55, sig: Int = 13): DataFrame = {
    val tp = (high + low + close) / 3.0
    val dtp = tp - shift(tp, 1)
    val sv = when(dtp > 0, volume).when(dtp < 0, -volume).when(dtp === 0, lit(0.0))
    val d0 = df.withColumn("__sv", sv)
    val d1 = d0
      .withColumn("__kf", prim.ewm(col("__sv"), 2.0 / (fast + 1)))
      .withColumn("__ks", prim.ewm(col("__sv"), 2.0 / (slow + 1)))
    val d2 = d1.withColumn(s"kvo_$fast", col("__kf") - col("__ks"))
    d2.withColumn(s"kvos_$fast", prim.ewm(col(s"kvo_$fast"), 2.0 / (sig + 1)))
      .drop("__sv", "__kf", "__ks")
  }

  // ============================================== signal utils =====
  def below(a: String, b: String, out: String): DataFrame =
    df.withColumn(out, when(c(a) <= c(b), 1.0).otherwise(0.0))

  def aboveValue(a: String, v: Double, out: String): DataFrame =
    df.withColumn(out, when(c(a) >= v, 1.0).otherwise(0.0))

  def belowValue(a: String, v: Double, out: String): DataFrame =
    df.withColumn(out, when(c(a) <= v, 1.0).otherwise(0.0))

  /** cross below: a<b now, a≥b on the previous row. */
  def crossBelow(a: String, b: String, out: String): DataFrame = {
    val pa = shift(c(a), 1); val pb = shift(c(b), 1)
    df.withColumn(
      out,
      when(c(a) < c(b) && pa.isNotNull && pb.isNotNull && pa >= pb, 1.0).otherwise(0.0)
    )
  }

  /** cross of a over a constant value. */
  def crossValue(a: String, v: Double, out: String): DataFrame = {
    val pa = shift(c(a), 1)
    df.withColumn(out, when(c(a) > v && pa.isNotNull && pa <= v, 1.0).otherwise(0.0))
  }

  /** TOS stdev-all (reference statistics/tos_stdevall.py): OLS line over
    * the WHOLE series (per key) ± k·stdev(close) parallel bands. */
  def tosStdevall(stds: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val full = org.apache.spark.sql.expressions.Window
      .partitionBy("series_id")
      .orderBy("ts")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val i = rn.cast("double") - 1.0
    val d0 = df.withColumn("__i", i)
    val nN = count(col("close")).over(full).cast("double")
    val si = sum(col("__i")).over(full)
    val sii = sum(col("__i") * col("__i")).over(full)
    val sy = sum(col("close")).over(full)
    val siy = sum(col("__i") * col("close")).over(full)
    val slope = sdiv(nN * siy - si * sy, nN * sii - si * si)
    val d1 = d0.withColumn("__b", slope)
    val d2 = d1
      .withColumn("__a", (sy - col("__b") * si) / nN)
      .withColumn("__sd", stddev_samp(col("close")).over(full))
    val d3 = d2.withColumn("tos_line", col("__a") + col("__b") * col("__i"))
    stds
      .foldLeft(d3) { (d, k) =>
        d.withColumn(s"tos_u_$k", col("tos_line") + lit(k.toDouble) * col("__sd"))
          .withColumn(s"tos_l_$k", col("tos_line") - lit(k.toDouble) * col("__sd"))
      }
      .drop("__i", "__b", "__a", "__sd")
  }
}

object Ta {
  implicit class RichTaDf(val df: DataFrame) extends AnyVal {
    def ta: Ta = new Ta(df)

    /** Run a batch of indicator specs as ONE compiled plan (reference
      * df.ta.strategy). */
    def taStrategy(st: Strategy): DataFrame = registry.strategy(df, st)

    /** Dynamic dispatch by indicator name (reference df.ta(kind=...)). */
    def taIndicator(kind: String, params: Map[String, Any] = Map.empty): DataFrame =
      registry(df, IndicatorSpec(kind, params))
  }
}
