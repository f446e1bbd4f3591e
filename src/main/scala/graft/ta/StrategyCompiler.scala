package graft.ta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import prim._

/** Batch compiler for `registry.strategy`: lowers each IndicatorSpec to a
  * LEVELED column plan (each level's columns reference only base columns
  * and earlier levels), then merges all specs level-by-level into ONE
  * `withColumns` per level.
  *
  * Why: the naive fold applies ~150 `withColumn`s, and each Dataset
  * creation re-analyzes the whole accumulated plan — measured ~16 ms per
  * creation on the 57-output batch (≈2.4 s driver-side for 50 specs,
  * CompileProbe). Merged levels need only max-depth creations (~14), so
  * compile cost stops scaling with indicator count × plan size. The
  * EXPRESSIONS per column are identical to the `df.ta.*` single-indicator
  * methods (same prim/stage arithmetic, same evaluation order — the
  * strategy50_batch oracle checks all 57 columns against DuckDB), so the
  * executed plan is the same one Exchange + Sort + WindowExec chain
  * (PlanShapeSpec).
  *
  * Kinds without a lowering (OHLCV composites, recursive kernels) and
  * specs carrying post-kwargs fall back to the builder fold — behavior,
  * not performance, is the contract there.
  */
private[ta] object StrategyCompiler {

  type Level = Seq[(String, Column)]

  /** levels + final output names + temp names to drop at the end. */
  final case class ColPlan(levels: Seq[Level], temps: Seq[String])

  private val close = col("close")
  private val open = col("open")
  private val high = col("high")
  private val low = col("low")
  private val volume = col("volume")

  /** max(h−l, |h−pc|, |l−pc|); null on the first row (mirror Ta.trueRange). */
  private def trExpr: Column = {
    val pc = shift(close, 1)
    when(pc.isNull, lit(null)).otherwise(greatest(high - low, abs(high - pc), abs(low - pc)))
  }

  /** CLV = ((c−l)−(h−c))/(h−l), 0 when h=l (mirror Ta.clv). */
  private def clvExpr: Column =
    when(high =!= low, ((close - low) - (high - close)) / (high - low)).otherwise(0.0)

  /** sma-seeded adjust=False ema as ONE fold level (round 8): the
    * SeededComposites.EmaSeeded kernel carries the positional gate, the
    * seed mean and the recurrence in its aggregation buffer — one level
    * instead of the former two (seed column + seeded ewm), bit-identical
    * to the staged spelling (SeededCompositeSpec) and ~2× cheaper at
    * scale (SCALING.md `sqlfold`). Chains (emaChain) shrink from 2k
    * levels to k. */
  private def emaLv(src: Column, out: String, n: Int): (Seq[Level], Seq[String]) =
    (Seq(Seq(out -> call_function("graft_ema_k", src.cast("double"), lit(n)).over(prim.cum))), Nil)

  /** Chain of sma-seeded emas e1..eK over src; returns (levels, temps). */
  private def emaChain(src: Column, prefix: String, n: Int, k: Int): (Seq[Level], Seq[String]) = {
    var levels = Seq.empty[Level]
    var temps = Seq.empty[String]
    var cur = src
    for (i <- 1 to k) {
      val out = s"${prefix}$i"
      val (l, t) = emaLv(cur, out, n)
      levels ++= l
      temps ++= (t :+ out)
      cur = col(out)
    }
    (levels, temps)
  }

  /** stage.linreg lowering under a temp prefix; exposes slope/intercept/
    * tsf/r columns named `${p}_slope` etc. (mirror of stage.linreg). */
  private def linregLv(src: Column, p: String, n: Int): (Seq[Level], Seq[String]) = {
    val nn = n.toDouble
    val sx = (0 until n).map(_.toDouble).sum
    val sxx = (0 until n).map(i => i.toDouble * i).sum
    val dx = nn * sxx - sx * sx
    val sxyE = wdot(src, (0 until n).map(j => (n - 1 - j).toDouble))
    val g = count(src).over(f(n)) >= n
    val sxy = s"__${p}_sxy"; val sy = s"__${p}_sy"; val syy = s"__${p}_syy"
    val levels = Seq(
      Seq(
        sxy -> when(g, sxyE),
        sy -> when(g, sum(src).over(f(n))),
        syy -> when(g, sum(src * src).over(f(n)))
      ),
      Seq(
        s"${p}_slope" -> (lit(nn) * col(sxy) - lit(sx) * col(sy)) / lit(dx),
        s"${p}_r" -> {
          val den2 = (lit(nn) * col(syy) - col(sy) * col(sy)) * lit(dx)
          sdiv(lit(nn) * col(sxy) - lit(sx) * col(sy), when(den2 > 0.0, sqrt(den2)))
        }
      ),
      Seq(s"${p}_intercept" -> (col(sy) - col(s"${p}_slope") * lit(sx)) / lit(nn)),
      Seq(s"${p}_tsf" -> (col(s"${p}_intercept") + col(s"${p}_slope") * lit(nn - 1.0)))
    )
    (levels, Seq(sxy, sy, syy))
  }

  /** Weighted-window MA (mirror of Ta.wdotMa). */
  private def wdotMaLv(out: String, weights: Seq[Double]): ColPlan = {
    val s = weights.sum
    ColPlan(Seq(Seq(out -> gated(close, weights.size)(wdot(close, weights.reverse.map(_ / s))))), Nil)
  }

  private def one(out: String, c: Column): ColPlan = ColPlan(Seq(Seq(out -> c)), Nil)

  private def i(p: Map[String, Any], k: String, dflt: Int): Int =
    p.get(k).map(_.toString.toDouble.toInt).getOrElse(dflt)
  private def dd(p: Map[String, Any], k: String, dflt: Double): Double =
    p.get(k).map(_.toString.toDouble).getOrElse(dflt)

  /** Lowerings for the close-only kinds (params mirror registry.builders;
    * every expression mirrors the corresponding Ta method). */
  def compile(spec: IndicatorSpec): Option[ColPlan] = {
    // post-kwargs change output columns after the fact — builder fold owns them
    if (Seq("offset", "fillna", "prefix", "suffix").exists(spec.params.contains)) return None
    val p = spec.params
    spec.kind match {
      case "sma" => Some(one(s"sma_${i(p, "length", 10)}", rmean(close, i(p, "length", 10))))
      case "wma" => Some(one(s"wma_${i(p, "length", 10)}", prim.wma(close, i(p, "length", 10))))
      case "rma" => Some(one(s"rma_${i(p, "length", 10)}", rmaOf(close, i(p, "length", 10))))
      case "ema" =>
        val n = i(p, "length", 10)
        val (l, t) = emaLv(close, s"ema_$n", n)
        Some(ColPlan(l, t))
      case "dema" =>
        // cascade kernel: both ema levels in one aggregation buffer
        val n = i(p, "length", 10)
        Some(one(s"dema_$n", call_function("graft_dema_k", close.cast("double"), lit(n)).over(prim.cum)))
      case "tema" =>
        val n = i(p, "length", 10)
        Some(one(s"tema_$n", call_function("graft_tema_k", close.cast("double"), lit(n)).over(prim.cum)))
      case "trima" =>
        val n = i(p, "length", 10)
        val half = (n + 1) / 2 + (if ((n + 1) % 2 == 0) 0 else 1)
        val second = n / 2 + 1
        val t1 = s"__trima${n}_t1"
        Some(ColPlan(
          Seq(Seq(t1 -> rmean(close, half)), Seq(s"trima_$n" -> rmean(col(t1), second))),
          Seq(t1)
        ))
      case "hma" =>
        val n = i(p, "length", 10)
        val h = s"__hma${n}_h"
        Some(ColPlan(
          Seq(
            Seq(h -> (lit(2.0) * prim.wma(close, n / 2) - prim.wma(close, n))),
            Seq(s"hma_$n" -> prim.wma(col(h), math.sqrt(n.toDouble).toInt))
          ),
          Seq(h)
        ))
      case "zlma" =>
        val n = i(p, "length", 10)
        val zl = s"__zlma${n}_zl"
        val (l, t) = emaLv(col(zl), s"zlma_$n", n)
        Some(ColPlan(Seq(zl -> (lit(2.0) * close - shift(close, (n - 1) / 2))) +: l, zl +: t))
      case "alma" =>
        val n = i(p, "length", 10); val sigma = dd(p, "sigma", 6.0); val offset = dd(p, "dist_offset", 0.85)
        val m = offset * (n - 1); val s = n / sigma
        Some(wdotMaLv(s"alma_$n", (0 until n).map(j => math.exp(-(j - m) * (j - m) / (2 * s * s)))))
      case "fwma" =>
        val n = i(p, "length", 10)
        Some(wdotMaLv(s"fwma_$n", Iterator.iterate((1.0, 1.0)) { case (a, b) => (b, a + b) }.map(_._1).take(n).toSeq))
      case "pwma" =>
        val n = i(p, "length", 10)
        Some(wdotMaLv(s"pwma_$n", (0 until n).scanLeft(1.0) { case (acc, k) => acc * (n - 1 - k) / (k + 1) }.take(n)))
      case "swma" =>
        val n = i(p, "length", 10); val half = (n + 1) / 2
        val tri = (1 to half) ++ (if (n % 2 == 0) (half to 1 by -1) else ((half - 1) to 1 by -1))
        Some(wdotMaLv(s"swma_$n", tri.map(_.toDouble)))
      case "sinwma" =>
        val n = i(p, "length", 10)
        Some(wdotMaLv(s"sinwma_$n", (0 until n).map(j => math.sin((j + 1) * math.Pi / (n + 1)))))
      case "t3" =>
        val n = i(p, "length", 10); val a = dd(p, "a", 0.7)
        val c1 = -a * a * a
        val c2 = 3.0 * a * a + 3.0 * a * a * a
        val c3 = -6.0 * a * a - 3.0 * a - 3.0 * a * a * a
        val c4 = 1.0 + 3.0 * a + a * a * a + 3.0 * a * a
        val (l, t) = emaChain(close, s"__t3${n}_e", n, 6)
        def e(j: Int) = col(s"__t3${n}_e$j")
        Some(ColPlan(l :+ Seq(s"t3_$n" -> (lit(c1) * e(6) + lit(c2) * e(5) + lit(c3) * e(4) + lit(c4) * e(3))), t))
      case "kama" =>
        val n = i(p, "length", 10); val fast = i(p, "fast", 2); val slow = i(p, "slow", 30)
        val fsc = 2.0 / (fast + 1); val ssc = 2.0 / (slow + 1)
        val er = sdiv(abs(close - shift(close, n)), rsum(abs(diff(close)), n))
        val sc = s"__kama${n}_sc"
        Some(ColPlan(
          Seq(
            Seq(sc -> pow(er * (fsc - ssc) + ssc, 2.0)),
            Seq(s"kama_$n" -> graft.functions.wf
              .linrec(lit(1.0) - col(sc), col(sc) * close, when(col(sc).isNotNull, close))
              .over(cum))
          ),
          Seq(sc)
        ))
      case "vidya" =>
        val n = i(p, "length", 10)
        val d1 = diff(close)
        val up = when(d1 > 0, d1).otherwise(0.0)
        val dn = when(d1 < 0, -d1).otherwise(0.0)
        val cmoAbs = sdiv(abs(rsum(up, n) - rsum(dn, n)), rsum(up, n) + rsum(dn, n))
        val al = s"__vidya${n}_al"
        Some(ColPlan(
          Seq(
            Seq(al -> (cmoAbs * (2.0 / (n + 1)))),
            Seq(s"vidya_$n" -> graft.functions.wf
              .linrec(lit(1.0) - col(al), col(al) * close, when(col(al).isNotNull, close))
              .over(cum))
          ),
          Seq(al)
        ))
      case "midpoint" =>
        val n = i(p, "length", 10)
        Some(one(s"midpoint_$n", (rmax(close, n) + rmin(close, n)) / 2.0))
      case "linreg" =>
        val n = i(p, "length", 10)
        val (l, t) = linregLv(close, s"linreg_$n", n)
        Some(ColPlan(l, t))
      case "rsi" =>
        // single fold: diff/up/dn/double-rma in the aggregation buffer
        val n = i(p, "length", 10)
        Some(one(s"rsi_$n", call_function("graft_rsi_k", close.cast("double"), lit(n)).over(prim.cum)))
      case "macd" =>
        // struct fold: three ewm accumulators in one window aggregate,
        // the line/signal/hist projected from the struct in level 2
        val fast = i(p, "fast", 12); val slow = i(p, "slow", 26); val sig = i(p, "signal", 9)
        val m = "__macd_m"
        Some(ColPlan(
          Seq(
            Seq(m -> call_function("graft_macd_k", close.cast("double"), lit(fast), lit(slow), lit(sig))
              .over(prim.cum)),
            Seq(
              "macd" -> col(s"$m.macd"),
              "macds" -> col(s"$m.macds"),
              "macdh" -> col(s"$m.macdh")
            )
          ),
          Seq(m)
        ))
      case "psar" =>
        // round-9: struct window fold (RecFolds.PsarFold) — shares the
        // W-class Exchange instead of the mapPartitions re-repartition
        val af0 = dd(p, "af0", 0.02); val afP = dd(p, "af", 0.02); val maxAf = dd(p, "max_af", 0.2)
        val t = "__psar"
        Some(ColPlan(
          Seq(
            Seq(t -> call_function("graft_psar_k",
              high.cast("double"), low.cast("double"), close.cast("double"),
              lit(af0), lit(afP), lit(maxAf)).over(prim.cum)),
            Seq(
              "psar_long" -> col(s"$t.long"),
              "psar_short" -> col(s"$t.short"),
              "psar_af" -> col(s"$t.af"),
              "psar_reversal" -> col(s"$t.rev")
            )
          ),
          Seq(t)
        ))
      case "supertrend" =>
        val n = i(p, "length", 7); val mult = dd(p, "multiplier", 3.0)
        val t = s"__st_$n"
        Some(ColPlan(
          Seq(
            Seq(t -> call_function("graft_supertrend_k",
              high.cast("double"), low.cast("double"), close.cast("double"),
              lit(n), lit(mult)).over(prim.cum)),
            Seq(
              s"supert_$n" -> col(s"$t.st"),
              s"supertd_$n" -> col(s"$t.dir"),
              s"supertl_$n" -> col(s"$t.long"),
              s"superts_$n" -> col(s"$t.short")
            )
          ),
          Seq(t)
        ))
      case "ha" =>
        val t = "__ha"
        Some(ColPlan(
          Seq(
            Seq(t -> call_function("graft_ha_k",
              open.cast("double"), high.cast("double"), low.cast("double"), close.cast("double"))
              .over(prim.cum)),
            Seq(
              "ha_open" -> col(s"$t.ha_open"),
              "ha_high" -> col(s"$t.ha_high"),
              "ha_low" -> col(s"$t.ha_low"),
              "ha_close" -> col(s"$t.ha_close")
            )
          ),
          Seq(t)
        ))
      case "mcgd" =>
        val n = i(p, "length", 10)
        Some(one(s"mcgd_$n", call_function("graft_mcgd_k", close.cast("double"), lit(n)).over(prim.cum)))
      case "ssf" =>
        val n = i(p, "length", 10)
        Some(one(s"ssf_$n", call_function("graft_ssf_k", close.cast("double"), lit(n)).over(prim.cum)))
      case "hwma" =>
        val na = dd(p, "na", 0.2); val nb = dd(p, "nb", 0.1); val nc = dd(p, "nc", 0.1)
        Some(one("hwma",
          call_function("graft_hwma_k", close.cast("double"), lit(na), lit(nb), lit(nc)).over(prim.cum)))
      case "kalman" =>
        val q = dd(p, "q", 0.01); val r = dd(p, "r", 1.0)
        val t = "__kf"
        Some(ColPlan(
          Seq(
            Seq(t -> call_function("graft_kalman_k", close.cast("double"), lit(q), lit(r)).over(prim.cum)),
            Seq("kf" -> col(s"$t.kf"), "kf_gain" -> col(s"$t.kf_gain"))
          ),
          Seq(t)
        ))
      case "ebsw" =>
        val n = i(p, "length", 40); val bars = i(p, "bars", 10)
        Some(one(s"ebsw_$n",
          call_function("graft_ebsw_k", close.cast("double"), lit(n), lit(bars)).over(prim.cum)))
      case "hwc" =>
        val na = dd(p, "na", 0.2); val nb = dd(p, "nb", 0.1); val nc = dd(p, "nc", 0.1)
        val nd = dd(p, "nd", 0.1); val k = dd(p, "k", 1.0)
        val t = "__hwc"
        Some(ColPlan(
          Seq(
            Seq(t -> call_function("graft_hwc_k",
              close.cast("double"), lit(na), lit(nb), lit(nc), lit(nd), lit(k)).over(prim.cum)),
            Seq(
              "hwc_mid" -> col(s"$t.hwc_mid"),
              "hwc_upper" -> col(s"$t.hwc_upper"),
              "hwc_lower" -> col(s"$t.hwc_lower")
            )
          ),
          Seq(t)
        ))
      case "td_seq" =>
        val t = "__td"
        Some(ColPlan(
          Seq(
            Seq(t -> call_function("graft_td_seq_k", close.cast("double")).over(prim.cum)),
            Seq("td_seq_up" -> col(s"$t.td_seq_up"), "td_seq_dn" -> col(s"$t.td_seq_dn"))
          ),
          Seq(t)
        ))
      case "rsx" =>
        val n = i(p, "length", 14)
        Some(one(s"rsx_$n", call_function("graft_rsx_k", close.cast("double"), lit(n)).over(prim.cum)))
      case "fisher" =>
        // staged range position + the FisherFold recursion
        val n = i(p, "length", 9)
        val m = (high + low) / 2.0
        val hh = rmax(m, n); val ll = rmin(m, n)
        val t = "__fish"
        Some(ColPlan(
          Seq(
            Seq("__pos" -> (lit(2.0) * (sdiv(m - ll, hh - ll) - 0.5))),
            Seq(t -> call_function("graft_fisher_k", col("__pos").cast("double")).over(prim.cum)),
            Seq(
              s"fisher_$n" -> col(s"$t.fisher"),
              s"fisher_signal_$n" -> col(s"$t.signal")
            )
          ),
          Seq("__pos", t)
        ))
      case "hilo" =>
        val hn = i(p, "high_length", 13); val ln = i(p, "low_length", 21)
        val t = "__hilo"
        Some(ColPlan(
          Seq(
            Seq("__mh" -> rmean(high, hn), "__ml" -> rmean(low, ln)),
            Seq(t -> call_function("graft_hilo_k",
              close.cast("double"), col("__mh").cast("double"), col("__ml").cast("double"))
              .over(prim.cum)),
            Seq(
              "hilo" -> col(s"$t.hilo"),
              "hilo_long" -> col(s"$t.hilo_long"),
              "hilo_short" -> col(s"$t.hilo_short")
            )
          ),
          Seq("__mh", "__ml", t)
        ))
      case "qqe" =>
        val n = i(p, "length", 14); val smooth = i(p, "smooth", 5); val factor = dd(p, "factor", 4.236)
        val wilders = n * 2 - 1
        val (lEma, tEma) = emaLv(col("__qrsi"), "__rsima", smooth)
        val t = "__qqe"
        Some(ColPlan(
          Seq(
            Seq("__qrsi" -> call_function("graft_rsi_k", close.cast("double"), lit(n)).over(prim.cum))
          ) ++ lEma ++ Seq(
            Seq("__adr" -> abs(diff(col("__rsima")))),
            Seq("__matr" -> ewm(col("__adr"), 1.0 / wilders)),
            Seq("__dar" -> (ewm(col("__matr"), 1.0 / wilders) * factor)),
            Seq(t -> call_function("graft_qqe_k",
              col("__rsima").cast("double"), col("__dar").cast("double")).over(prim.cum)),
            Seq(
              s"qqe_$n" -> col(s"$t.qqe"),
              s"qqe_trend_$n" -> col(s"$t.trend"),
              s"qqe_long_$n" -> col(s"$t.long"),
              s"qqe_short_$n" -> col(s"$t.short")
            )
          ),
          Seq("__qrsi", "__rsima", "__adr", "__matr", "__dar", t) ++ tEma
        ))
      case "mom" =>
        val n = i(p, "length", 10)
        Some(one(s"mom_$n", diff(close, n)))
      case "roc" =>
        val n = i(p, "length", 10)
        Some(one(s"roc_$n", lit(100.0) * pctChange(close, n)))
      case "slope" =>
        val n = i(p, "length", 1)
        Some(one(s"slope_$n", diff(close, n) / n.toDouble))
      case "cmo" =>
        val n = i(p, "length", 10)
        val up = s"__cmo${n}_up"; val dn = s"__cmo${n}_dn"
        val d0 = diff(close)
        Some(ColPlan(
          Seq(
            Seq(
              up -> when(d0.isNull, lit(null)).when(d0 > 0, d0).otherwise(lit(0.0)),
              dn -> when(d0.isNull, lit(null)).when(d0 < 0, -d0).otherwise(lit(0.0))
            ),
            Seq(s"cmo_$n" -> (lit(100.0) * sdiv(
              rsum(col(up), n) - rsum(col(dn), n),
              rsum(col(up), n) + rsum(col(dn), n)
            )))
          ),
          Seq(up, dn)
        ))
      case "apo" =>
        val fast = i(p, "fast", 12); val slow = i(p, "slow", 26)
        Some(one(s"apo_${fast}_$slow", rmean(close, fast) - rmean(close, slow)))
      case "ppo" =>
        val fast = i(p, "fast", 12); val slow = i(p, "slow", 26)
        Some(one(s"ppo_${fast}_$slow", lit(100.0) * sdiv(rmean(close, fast) - rmean(close, slow), rmean(close, slow))))
      case "bias" =>
        val n = i(p, "length", 26)
        Some(one(s"bias_$n", lit(100.0) * (sdiv(close, rmean(close, n)) - 1.0)))
      case "cfo" =>
        val n = i(p, "length", 10)
        val (l, t) = linregLv(close, s"__cfo${n}_lr", n)
        Some(ColPlan(
          l :+ Seq(s"cfo_$n" -> (lit(100.0) * sdiv(close - col(s"__cfo${n}_lr_tsf"), close))),
          t ++ Seq(s"__cfo${n}_lr_slope", s"__cfo${n}_lr_intercept", s"__cfo${n}_lr_tsf", s"__cfo${n}_lr_r")
        ))
      case "cti" =>
        val n = i(p, "length", 12)
        val (l, t) = linregLv(close, s"__cti${n}_lr", n)
        Some(ColPlan(
          l :+ Seq(s"cti_$n" -> col(s"__cti${n}_lr_r")),
          t ++ Seq(s"__cti${n}_lr_slope", s"__cti${n}_lr_intercept", s"__cti${n}_lr_tsf", s"__cti${n}_lr_r")
        ))
      case "cg" =>
        val n = i(p, "length", 10)
        val num = wdot(close, (1 to n).map(_.toDouble))
        Some(one(s"cg_$n", -sdiv(when(count(close).over(f(n)) >= n, num), rsum(close, n))))
      case "coppock" =>
        val n = i(p, "length", 10); val fast = i(p, "fast", 11); val slow = i(p, "slow", 14)
        val rs = s"__coppock${n}_rsum2"
        Some(ColPlan(
          Seq(
            Seq(rs -> (lit(100.0) * pctChange(close, fast) + lit(100.0) * pctChange(close, slow))),
            Seq(s"coppock_${n}_${fast}_$slow" -> prim.wma(col(rs), n))
          ),
          Seq(rs)
        ))
      case "er" =>
        val n = i(p, "length", 10)
        val ad = s"__er${n}_ad"
        Some(ColPlan(
          Seq(
            Seq(ad -> abs(diff(close))),
            Seq(s"er_$n" -> sdiv(abs(close - shift(close, n)), rsum(col(ad), n)))
          ),
          Seq(ad)
        ))
      case "psl" =>
        val n = i(p, "length", 12)
        val gt = s"__psl${n}_gt"
        val d0 = diff(close)
        Some(ColPlan(
          Seq(
            Seq(gt -> when(d0 > 0, 1.0).otherwise(0.0)),
            Seq(s"psl_$n" -> (lit(100.0) * rsum(col(gt), n) / n.toDouble))
          ),
          Seq(gt)
        ))
      case "trix" =>
        // cascade fold: three seeded-ema levels + the lag-1 slot in one buffer
        val n = i(p, "length", 10)
        Some(one(s"trix_$n", call_function("graft_trix_k", close.cast("double"), lit(n)).over(prim.cum)))
      case "tsi" =>
        val fast = i(p, "fast", 13); val slow = i(p, "slow", 25)
        Some(one(
          s"tsi_${fast}_$slow",
          call_function("graft_tsi_k", close.cast("double"), lit(fast), lit(slow)).over(prim.cum)
        ))
      case "stdev" =>
        val n = i(p, "length", 30)
        Some(one(s"stdev_$n", rstd(close, n)))
      case "variance" =>
        val n = i(p, "length", 30)
        Some(one(s"variance_$n", rvar(close, n)))
      case "median" =>
        val n = i(p, "length", 30)
        Some(one(s"median_$n", rmedian(close, n)))
      case "quantile" =>
        val n = i(p, "length", 30); val q = dd(p, "q", 0.5)
        Some(one(s"quantile_$n", rquantile(close, q, n)))
      case "mad" =>
        val n = i(p, "length", 30)
        val xs = s"__mad${n}_xs"; val m = s"__mad${n}_m"
        Some(ColPlan(
          Seq(
            Seq(xs -> collect_list(close).over(f(n)), m -> avg(close).over(f(n))),
            Seq(s"mad_$n" -> when(
              count(close).over(f(n)) >= n,
              aggregate(col(xs), lit(0.0), (acc, v) => acc + abs(v - col(m))) / size(col(xs))
            ))
          ),
          Seq(xs, m)
        ))
      case "skew" =>
        val n = i(p, "length", 30)
        Some(one(s"skew_$n", rskew(close, n)))
      case "kurtosis" =>
        val n = i(p, "length", 30)
        Some(one(s"kurtosis_$n", rkurt(close, n)))
      case "zscore" =>
        val n = i(p, "length", 30)
        Some(one(s"zscore_$n", sdiv(close - rmean(close, n), rstd(close, n))))
      case "entropy" =>
        val n = i(p, "length", 10); val base = 2.0
        val lnB = math.log(base)
        val rs = s"__ent${n}_rs"; val pp = s"__ent${n}_p"; val et = s"__ent${n}_et"
        Some(ColPlan(
          Seq(
            Seq(rs -> rsum(close, n)),
            Seq(pp -> sdiv(close, col(rs))),
            Seq(et -> when(col(pp) > 0, -col(pp) * log(col(pp)) / lnB)),
            Seq(s"entropy_$n" -> rsum(col(et), n))
          ),
          Seq(rs, pp, et)
        ))
      case "log_return" if !p.get("cumulative").exists(_.toString.toBoolean) =>
        val n = i(p, "length", 1)
        Some(one(s"log_return_$n", sln(sdiv(close, shift(close, n)))))
      case "percent_return" if !p.get("cumulative").exists(_.toString.toBoolean) =>
        val n = i(p, "length", 1)
        Some(one(s"percent_return_$n", sdiv(close, shift(close, n)) - 1.0))
      case "drawdown" =>
        val mx = cummax(close)
        Some(ColPlan(
          Seq(Seq(
            "dd" -> (mx - close),
            "dd_pct" -> (lit(1.0) - sdiv(close, mx)),
            "dd_log" -> (sln(mx) - sln(close))
          )),
          Nil
        ))
      case "decay" =>
        val n = i(p, "length", 5)
        val rnD = s"__decay${n}_rn"
        Some(ColPlan(
          Seq(
            Seq(rnD -> rn.cast("double")),
            Seq(s"decay_$n" -> greatest(max(close + col(rnD) / n).over(cum) - col(rnD) / n, lit(0.0)))
          ),
          Seq(rnD)
        ))
      case "geometric_mean" =>
        val n = i(p, "length", 10)
        val lnx = when(close > 0, log(close))
        Some(one(s"geomean_$n", exp(rmean(lnx, n))))

      // ----- OHLCV single/few-level kinds (mirror the Ta methods) -----
      case "hl2" => Some(one("hl2", (high + low) / 2.0))
      case "hlc3" => Some(one("hlc3", (high + low + close) / 3.0))
      case "ohlc4" => Some(one("ohlc4", (open + high + low + close) / 4.0))
      case "wcp" => Some(one("wcp", (high + low + lit(2.0) * close) / 4.0))
      case "midprice" =>
        val n = i(p, "length", 10)
        Some(one(s"midprice_$n", (rmax(high, n) + rmin(low, n)) / 2.0))
      case "bop" => Some(one("bop", sdiv(close - open, high - low)))
      case "qstick" =>
        val n = i(p, "length", 10)
        Some(one(s"qstick_$n", rmean(close - open, n)))
      case "true_range" => Some(one("true_range", trExpr))
      case "pdist" =>
        Some(one("pdist", lit(2.0) * (high - low) - abs(close - open) + abs(open - shift(close, 1))))
      case "increasing" =>
        val n = i(p, "length", 1)
        Some(one(s"increasing_$n", when(diff(close, n) > 0, 1.0).otherwise(0.0)))
      case "decreasing" =>
        val n = i(p, "length", 1)
        Some(one(s"decreasing_$n", when(diff(close, n) < 0, 1.0).otherwise(0.0)))
      case "vhf" =>
        val n = i(p, "length", 10)
        val ad = s"__vhf${n}_ad"
        Some(ColPlan(
          Seq(
            Seq(ad -> abs(diff(close))),
            Seq(s"vhf_$n" -> sdiv(abs(rmax(close, n) - rmin(close, n)), rsum(col(ad), n)))
          ),
          Seq(ad)
        ))
      case "donchian" =>
        val n = i(p, "length", 10)
        Some(ColPlan(
          Seq(
            Seq(s"dcl_$n" -> rmin(low, n), s"dcu_$n" -> rmax(high, n)),
            Seq(s"dcm_$n" -> ((col(s"dcl_$n") + col(s"dcu_$n")) / 2.0))
          ),
          Nil
        ))
      case "willr" =>
        val n = i(p, "length", 10)
        val ll = rmin(low, n); val hh = rmax(high, n)
        Some(one(s"willr_$n", lit(100.0) * sdiv(close - hh, hh - ll)))
      case "stoch" =>
        val n = i(p, "k", 10); val sK = i(p, "smooth_k", 3); val dN = i(p, "d", 3)
        val fk = "__stoch_fastk"
        val ll = rmin(low, n); val hh = rmax(high, n)
        Some(ColPlan(
          Seq(
            Seq(fk -> (lit(100.0) * sdiv(close - ll, hh - ll))),
            Seq("stoch_k" -> rmean(col(fk), sK)),
            Seq("stoch_d" -> rmean(col("stoch_k"), dN))
          ),
          Seq(fk)
        ))
      case "ao" =>
        val fast = i(p, "fast", 5); val slow = i(p, "slow", 20)
        val h2 = s"__ao_hl2"
        Some(ColPlan(
          Seq(
            Seq(h2 -> ((high + low) / 2.0)),
            Seq(s"ao_${fast}_$slow" -> (rmean(col(h2), fast) - rmean(col(h2), slow)))
          ),
          Seq(h2)
        ))
      case "accbands" =>
        val n = i(p, "length", 10)
        val ratio = lit(4.0) * sdiv(high - low, high + low)
        val au = s"__accb${n}_au"; val al = s"__accb${n}_al"
        Some(ColPlan(
          Seq(
            Seq(au -> (high * (lit(1.0) + ratio)), al -> (low * (lit(1.0) - ratio))),
            Seq(
              s"accbu_$n" -> rmean(col(au), n),
              s"accbl_$n" -> rmean(col(al), n),
              s"accbm_$n" -> rmean(close, n)
            )
          ),
          Seq(au, al)
        ))
      case "ui" =>
        val n = i(p, "length", 10)
        val hh = rmax(close, n)
        val d2 = s"__ui${n}_d2"
        val dpct = lit(100.0) * sdiv(close - hh, hh)
        Some(ColPlan(
          Seq(
            Seq(d2 -> (dpct * dpct)),
            Seq(s"ui_$n" -> { val m = rmean(col(d2), n); when(m >= 0.0, sqrt(m)) })
          ),
          Seq(d2)
        ))
      case "uo" =>
        val fN = i(p, "fast", 7); val mN = i(p, "medium", 14); val sN = i(p, "slow", 28)
        val pc = shift(close, 1)
        val bp = "__uo_bp"; val tr = "__uo_tr"
        def avgN(n0: Int) = sdiv(rsum(col(bp), n0), rsum(col(tr), n0))
        Some(ColPlan(
          Seq(
            Seq(
              bp -> when(pc.isNull, lit(null)).otherwise(close - least(low, pc)),
              tr -> when(pc.isNull, lit(null)).otherwise(greatest(high, pc) - least(low, pc))
            ),
            Seq(s"uo_${fN}_${mN}_$sN" -> (lit(100.0) * (lit(4.0) * avgN(fN) + lit(2.0) * avgN(mN) + avgN(sN)) / 7.0))
          ),
          Seq(bp, tr)
        ))
      case "eri" =>
        val n = i(p, "length", 10)
        val (l, t) = emaLv(close, "__eri_e", n)
        Some(ColPlan(
          l :+ Seq(s"bull_$n" -> (high - col("__eri_e")), s"bear_$n" -> (low - col("__eri_e"))),
          "__eri_e" +: t
        ))
      case "cci" =>
        val n = i(p, "length", 10); val scalar = dd(p, "scalar", 0.015)
        val tp = "__cci_tp"; val xs = "__cci_xs"; val m = "__cci_m"; val md = "__cci_mad"
        Some(ColPlan(
          Seq(
            Seq(tp -> ((high + low + close) / 3.0)),
            Seq(xs -> collect_list(col(tp)).over(f(n)), m -> avg(col(tp)).over(f(n))),
            Seq(md -> when(
              count(col(tp)).over(f(n)) >= n,
              aggregate(col(xs), lit(0.0), (acc, v) => acc + abs(v - col(m))) / size(col(xs))
            )),
            Seq(s"cci_$n" -> sdiv(col(tp) - rmean(col(tp), n), lit(scalar) * col(md)))
          ),
          Seq(tp, xs, m, md)
        ))
      case "atr" =>
        val n = i(p, "length", 10)
        Some(ColPlan(
          Seq(Seq("true_range" -> trExpr), Seq(s"atr_$n" -> rmaOf(col("true_range"), n))),
          Nil // true_range is a real output of the atr builder too
        ))
      case "natr" =>
        val n = i(p, "length", 10)
        Some(ColPlan(
          Seq(
            Seq("true_range" -> trExpr),
            Seq(s"atr_$n" -> rmaOf(col("true_range"), n)),
            Seq(s"natr_$n" -> (lit(100.0) * sdiv(col(s"atr_$n"), close)))
          ),
          Nil
        ))
      case "chop" =>
        val n = i(p, "length", 10)
        val ratio = sdiv(rsum(col("true_range"), n), rmax(high, n) - rmin(low, n))
        Some(ColPlan(
          Seq(
            Seq("true_range" -> trExpr),
            Seq(s"chop_$n" -> (lit(100.0) * sln(ratio) / lit(math.log(n.toDouble))))
          ),
          Nil
        ))
      case "vortex" =>
        val n = i(p, "length", 10)
        val pl = shift(low, 1); val ph = shift(high, 1)
        val vmp = s"__vtx${n}_vmp"; val vmm = s"__vtx${n}_vmm"
        Some(ColPlan(
          Seq(
            Seq(
              "true_range" -> trExpr,
              vmp -> when(pl.isNull, lit(null)).otherwise(abs(high - pl)),
              vmm -> when(ph.isNull, lit(null)).otherwise(abs(low - ph))
            ),
            Seq(
              s"vtxp_$n" -> sdiv(rsum(col(vmp), n), rsum(col("true_range"), n)),
              s"vtxm_$n" -> sdiv(rsum(col(vmm), n), rsum(col("true_range"), n))
            )
          ),
          Seq(vmp, vmm)
        ))
      case "vwma" =>
        val n = i(p, "length", 10)
        Some(one(s"vwma_$n", sdiv(rmean(close * volume, n), rmean(volume, n))))
      case "vwap" =>
        val tp = "__vwap_tp"
        Some(ColPlan(
          Seq(
            Seq(tp -> ((high + low + close) / 3.0)),
            Seq("vwap" -> sdiv(cumsum(col(tp) * volume), cumsum(volume)))
          ),
          Seq(tp)
        ))
      case "obv" =>
        val sC = "__obv_s"
        val dcl = diff(close)
        val sgn = when(rn === 1, 1.0)
          .otherwise(when(dcl > 0, 1.0).when(dcl < 0, -1.0).otherwise(0.0))
        Some(ColPlan(
          Seq(Seq(sC -> (sgn * volume)), Seq("obv" -> cumsum(col(sC)))),
          Seq(sC)
        ))
      case "ad" =>
        val cv = "__ad_clvv"
        Some(ColPlan(
          Seq(Seq(cv -> (clvExpr * volume)), Seq("ad" -> cumsum(col(cv)))),
          Seq(cv)
        ))
      case "cmf" =>
        val n = i(p, "length", 10)
        val cv = s"__cmf${n}_clvv"
        Some(ColPlan(
          Seq(
            Seq(cv -> (clvExpr * volume)),
            Seq(s"cmf_$n" -> sdiv(rsum(col(cv), n), rsum(volume, n)))
          ),
          Seq(cv)
        ))
      case "efi" =>
        val n = i(p, "length", 10)
        val fC = s"__efi${n}_f"
        val (l, t) = emaLv(col(fC), s"efi_$n", n)
        Some(ColPlan(Seq(fC -> (diff(close) * volume)) +: l, fC +: t))
      case "eom" =>
        val n = i(p, "length", 14); val divisor = 1e8
        val h2 = s"__eom${n}_hl2"; val raw = s"__eom${n}_raw"
        Some(ColPlan(
          Seq(
            Seq(h2 -> ((high + low) / 2.0)),
            Seq(raw -> (lit(divisor) * diff(col(h2)) * sdiv(high - low, volume))),
            Seq(s"eom_$n" -> rmean(col(raw), n))
          ),
          Seq(h2, raw)
        ))
      case "mfi" =>
        val n = i(p, "length", 10)
        val tp = s"__mfi${n}_tp"; val dtp = s"__mfi${n}_dtp"
        val pos = s"__mfi${n}_pos"; val neg = s"__mfi${n}_neg"
        Some(ColPlan(
          Seq(
            Seq(tp -> ((high + low + close) / 3.0)),
            Seq(dtp -> diff(col(tp))),
            Seq(
              pos -> when(col(dtp) > 0, col(tp) * volume).otherwise(0.0),
              neg -> when(col(dtp) < 0, col(tp) * volume).otherwise(0.0)
            ),
            Seq(s"mfi_$n" -> (lit(100.0) * sdiv(rsum(col(pos), n), rsum(col(pos), n) + rsum(col(neg), n))))
          ),
          Seq(tp, dtp, pos, neg)
        ))
      case "pvol" => Some(one("pvol", volume * close))
      case "pvr" =>
        val dc = diff(close); val dv = diff(volume)
        Some(one(
          "pvr",
          when(dc.isNull || dv.isNull, lit(null))
            .when(dc >= 0 && dv >= 0, 1.0)
            .when(dc >= 0 && dv < 0, 2.0)
            .when(dc < 0 && dv >= 0, 3.0)
            .otherwise(4.0)
        ))
      case "pvt" =>
        val r = "__pvt_r"
        Some(ColPlan(
          Seq(
            Seq(r -> coalesce(pctChange(close, 1) * volume, lit(0.0))),
            Seq("pvt" -> cumsum(col(r)))
          ),
          Seq(r)
        ))

      // ----- ema-chain / multi-stage OHLCV composites -----
      case "bbands" =>
        val n = i(p, "length", 5); val k = dd(p, "std", 2.0)
        val mid = rmean(close, n)
        val dev = rstd(close, n) * k
        val ks = if (k == k.floor) k.toInt.toString else k.toString.replace('.', '_')
        Some(ColPlan(
          Seq(Seq(
            s"bbm_${n}_$ks" -> mid,
            s"bbl_${n}_$ks" -> (mid - dev),
            s"bbu_${n}_$ks" -> (mid + dev),
            s"bbb_${n}_$ks" -> (lit(100.0) * sdiv(lit(2.0) * dev, mid)),
            s"bbp_${n}_$ks" -> sdiv(close - (mid - dev), lit(2.0) * dev)
          )),
          Nil
        ))
      case "dm" =>
        val n = i(p, "length", 14)
        val up = diff(high)
        val dn = -diff(low)
        val pdm = when(up > dn && up > 0, up).otherwise(when(up.isNull || dn.isNull, lit(null)).otherwise(0.0))
        val mdm = when(dn > up && dn > 0, dn).otherwise(when(up.isNull || dn.isNull, lit(null)).otherwise(0.0))
        Some(ColPlan(
          Seq(Seq(s"dmp_$n" -> rmaOf(pdm, n), s"dmn_$n" -> rmaOf(mdm, n))),
          Nil
        ))
      case "adx" =>
        // struct fold: ±DM/TR/DX Wilder accumulators chained in one buffer
        val n = i(p, "length", 14); val lensig = i(p, "lensig", 14)
        val t = s"__adx_$n"
        Some(ColPlan(
          Seq(
            Seq(t -> call_function("graft_adx_k",
              high.cast("double"), low.cast("double"), close.cast("double"),
              lit(n), lit(lensig)).over(prim.cum)),
            Seq(
              s"dmp_$n" -> col(s"$t.dmp"),
              s"dmn_$n" -> col(s"$t.dmn"),
              s"dip_$n" -> col(s"$t.dip"),
              s"dim_$n" -> col(s"$t.dim"),
              s"adx_$lensig" -> col(s"$t.adx")
            )
          ),
          Seq(t)
        ))
      case "kc" =>
        // struct fold: basis + band seeded-ema chains in one buffer
        val n = i(p, "length", 20); val scalar = dd(p, "scalar", 2.0)
        val t = s"__kc_$n"
        Some(ColPlan(
          Seq(
            Seq(t -> call_function("graft_kc_k",
              high.cast("double"), low.cast("double"), close.cast("double"),
              lit(n), lit(scalar)).over(prim.cum)),
            Seq(
              s"kcb_$n" -> col(s"$t.kcb"),
              s"kcl_$n" -> col(s"$t.kcl"),
              s"kcu_$n" -> col(s"$t.kcu")
            )
          ),
          Seq(t)
        ))
      case "massi" =>
        val fast = i(p, "fast", 9); val slow = i(p, "slow", 25)
        val hr = "__massi_hr"
        val (l1, t1) = emaLv(col(hr), "__massi_e1", fast)
        val (l2, t2) = emaLv(col("__massi_e1"), "__massi_e2", fast)
        Some(ColPlan(
          (Seq(Seq(hr -> (high - low))) ++ l1 ++ l2) :+
            Seq(s"massi_${fast}_$slow" -> rsum(sdiv(col("__massi_e1"), col("__massi_e2")), slow)),
          Seq(hr, "__massi_e1", "__massi_e2") ++ t1 ++ t2
        ))
      case "rvi" =>
        val n = i(p, "length", 14)
        val sd = rstd(close, n)
        val d1 = diff(close)
        val pos = when(d1.isNull || sd.isNull, lit(null)).otherwise(when(d1 > 0, sd).otherwise(0.0))
        val neg = when(d1.isNull || sd.isNull, lit(null)).otherwise(when(d1 < 0, sd).otherwise(0.0))
        val pP = s"__rvi${n}_p"; val qP = s"__rvi${n}_q"
        Some(ColPlan(
          Seq(
            Seq(pP -> rmaOf(pos, n), qP -> rmaOf(neg, n)),
            Seq(s"rvi_$n" -> (lit(100.0) * sdiv(col(pP), col(pP) + col(qP))))
          ),
          Seq(pP, qP)
        ))
      case "thermo" =>
        val n = i(p, "length", 20)
        val (l, t) = emaLv(col("thermo"), s"thermo_ma_$n", n)
        Some(ColPlan(
          Seq(Seq("thermo" -> greatest(abs(diff(high)), abs(diff(low))))) ++ l,
          t
        ))
      case "aberration" =>
        val n = i(p, "length", 5); val atrN = i(p, "atr_length", 15)
        val zg = rmean((high + low + close) / 3.0, n)
        Some(ColPlan(
          Seq(
            Seq("true_range" -> trExpr),
            Seq(s"atr_$atrN" -> rmaOf(col("true_range"), atrN)),
            Seq(
              s"abe_zg_$n" -> zg,
              s"abe_sg_$n" -> (zg + col(s"atr_$atrN")),
              s"abe_xg_$n" -> (zg - col(s"atr_$atrN"))
            )
          ),
          Seq("true_range", s"atr_$atrN")
        ))
      case "cksp" =>
        val pN = i(p, "p", 10); val x = dd(p, "x", 1.0); val q = i(p, "q", 9)
        val ls0 = "__cksp_ls0"; val ss0 = "__cksp_ss0"
        Some(ColPlan(
          Seq(
            Seq("true_range" -> trExpr),
            Seq(s"atr_$pN" -> rmaOf(col("true_range"), pN)),
            Seq(
              ls0 -> (rmax(high, pN) - lit(x) * col(s"atr_$pN")),
              ss0 -> (rmin(low, pN) + lit(x) * col(s"atr_$pN"))
            ),
            Seq(s"cksp_long_$pN" -> rmax(col(ls0), q), s"cksp_short_$pN" -> rmin(col(ss0), q))
          ),
          Seq("true_range", s"atr_$pN", ls0, ss0)
        ))
      case "dpo" =>
        val n = i(p, "length", 20); val t = n / 2 + 1
        Some(one(s"dpo_$n", close - shift(rmean(close, n), -t)))
      case "pvo" =>
        val fast = i(p, "fast", 12); val slow = i(p, "slow", 26); val sig = i(p, "signal", 9)
        val (l1, t1) = emaLv(volume, "__pvo_vf", fast)
        val (l2, t2) = emaLv(volume, "__pvo_vs", slow)
        val (l3, t3) = emaLv(col(s"pvo_${fast}_$slow"), s"pvos_${fast}_$slow", sig)
        Some(ColPlan(
          (l1 ++ l2) ++
            (Seq(Seq(s"pvo_${fast}_$slow" -> (lit(100.0) * sdiv(col("__pvo_vf") - col("__pvo_vs"), col("__pvo_vs"))))) ++ l3) :+
            Seq(s"pvoh_${fast}_$slow" -> (col(s"pvo_${fast}_$slow") - col(s"pvos_${fast}_$slow"))),
          Seq("__pvo_vf", "__pvo_vs") ++ t1 ++ t2 ++ t3
        ))
      case "brar" =>
        val n = i(p, "length", 26)
        val pc = shift(close, 1)
        val hcy = when(pc.isNull, lit(null)).otherwise(greatest(lit(0.0), high - pc))
        val cyl = when(pc.isNull, lit(null)).otherwise(greatest(lit(0.0), pc - low))
        Some(ColPlan(
          Seq(Seq(
            s"ar_$n" -> (lit(100.0) * sdiv(rsum(high - open, n), rsum(open - low, n))),
            s"br_$n" -> (lit(100.0) * sdiv(rsum(hcy, n), rsum(cyl, n)))
          )),
          Nil
        ))
      case "adosc" =>
        val fast = i(p, "fast", 3); val slow = i(p, "slow", 10)
        val cv = "__adosc_clvv"
        val (l1, t1) = emaLv(col("ad"), "__adosc_af", fast)
        val (l2, t2) = emaLv(col("ad"), "__adosc_as", slow)
        Some(ColPlan(
          (Seq(Seq(cv -> (clvExpr * volume)), Seq("ad" -> cumsum(col(cv)))) ++ l1 ++ l2) :+
            Seq(s"adosc_${fast}_$slow" -> (col("__adosc_af") - col("__adosc_as"))),
          Seq(cv, "__adosc_af", "__adosc_as") ++ t1 ++ t2
        ))
      case "pgo" =>
        val n = i(p, "length", 14)
        val (l, t) = emaLv(col("true_range"), "__pgo_etr", n)
        Some(ColPlan(
          (Seq(Seq("true_range" -> trExpr)) ++ l) :+
            Seq(s"pgo_$n" -> sdiv(close - rmean(close, n), col("__pgo_etr"))),
          Seq("true_range", "__pgo_etr") ++ t
        ))
      case "ttm_trend" =>
        val n = i(p, "length", 6)
        val avgHl2 = rmean((high + low) / 2.0, n)
        Some(one(
          s"ttm_trend_$n",
          when(avgHl2.isNull, lit(null)).otherwise(when(close > avgHl2, 1.0).otherwise(-1.0))
        ))
      case "amat" =>
        val fast = i(p, "fast", 8); val slow = i(p, "slow", 21); val n = 2
        val (l1, t1) = emaLv(close, "__amat_maf", fast)
        val (l2, t2) = emaLv(close, "__amat_mas", slow)
        val fInc = diff(col("__amat_maf"), n) > 0
        val fDec = diff(col("__amat_maf"), n) < 0
        val sInc = diff(col("__amat_mas"), n) > 0
        val sDec = diff(col("__amat_mas"), n) < 0
        Some(ColPlan(
          (l1 ++ l2) :+ Seq(
            s"amat_lr_$fast" -> when((fInc && sDec) || (fInc && sInc), 1.0).otherwise(0.0),
            s"amat_sr_$fast" -> when((fDec && sInc) || (fDec && sDec), 1.0).otherwise(0.0)
          ),
          Seq("__amat_maf", "__amat_mas") ++ t1 ++ t2
        ))
      case "kdj" =>
        val n = i(p, "length", 9); val signal = i(p, "signal", 3)
        val alpha = 1.0 / signal
        val ll = rmin(low, n); val hh = rmax(high, n)
        val rsv = "__kdj_rsv"
        Some(ColPlan(
          Seq(
            Seq(rsv -> (lit(100.0) * sdiv(close - ll, hh - ll))),
            Seq(s"kdj_k_$n" -> ewm(col(rsv), alpha)),
            Seq(s"kdj_d_$n" -> ewm(col(s"kdj_k_$n"), alpha)),
            Seq(s"kdj_j_$n" -> (lit(3.0) * col(s"kdj_k_$n") - lit(2.0) * col(s"kdj_d_$n")))
          ),
          Seq(rsv)
        ))
      case "kst" =>
        val r = Seq(10, 15, 20, 30); val s0 = Seq(10, 10, 10, 15); val sig = 9
        val terms = r.zip(s0).zipWithIndex.map { case ((ri, si), j) =>
          lit((j + 1).toDouble) * rmean(lit(100.0) * pctChange(close, ri), si)
        }
        Some(ColPlan(
          Seq(
            Seq("kst" -> terms.reduce(_ + _)),
            Seq("kst_signal" -> rmean(col("kst"), sig))
          ),
          Nil
        ))
      case "stochrsi" =>
        val n = i(p, "length", 10); val k = 3; val dN = 3
        val rsi0 = "__srsi_rsi"; val sr = "__srsi_srsi"
        val lo = rmin(col(rsi0), n); val hi = rmax(col(rsi0), n)
        Some(ColPlan(
          Seq(
            Seq(rsi0 -> call_function("graft_rsi_k", close.cast("double"), lit(n)).over(prim.cum)),
            Seq(sr -> (lit(100.0) * sdiv(col(rsi0) - lo, hi - lo))),
            Seq("stochrsi_k" -> rmean(col(sr), k)),
            Seq("stochrsi_d" -> rmean(col("stochrsi_k"), dN))
          ),
          Seq(rsi0, sr)
        ))
      case "ichimoku" =>
        val tN = i(p, "tenkan", 9); val kN = i(p, "kijun", 26)
        val sN = i(p, "senkou", 52); val sh = i(p, "shift", 26)
        val tenkan = (rmax(high, tN) + rmin(low, tN)) / 2.0
        val kijun = (rmax(high, kN) + rmin(low, kN)) / 2.0
        val spanB0 = (rmax(high, sN) + rmin(low, sN)) / 2.0
        Some(ColPlan(
          Seq(
            Seq(
              "isa_raw" -> ((tenkan + kijun) / 2.0),
              "isb_raw" -> spanB0,
              s"its_$tN" -> tenkan,
              s"iks_$kN" -> kijun
            ),
            Seq(
              s"isa_$tN" -> shift(col("isa_raw"), sh),
              s"isb_$kN" -> shift(col("isb_raw"), sh),
              s"ics_$kN" -> shift(close, -sh)
            )
          ),
          Seq("isa_raw", "isb_raw")
        ))
      case "rvgi" =>
        val n = i(p, "length", 14); val swmaN = i(p, "swma_length", 4)
        def sw(x: Column): Column = {
          val half = (swmaN + 1) / 2
          val tri = ((1 to half) ++ (if (swmaN % 2 == 0) (half to 1 by -1) else ((half - 1) to 1 by -1)))
            .map(_.toDouble)
          val s0 = tri.sum
          gated(x, swmaN)(wdot(x, tri.reverse.map(_ / s0)))
        }
        Some(ColPlan(
          Seq(
            Seq("__rvgi_num" -> sw(close - open), "__rvgi_den" -> sw(high - low)),
            Seq(s"rvgi_$n" -> sdiv(rsum(col("__rvgi_num"), n), rsum(col("__rvgi_den"), n))),
            Seq(s"rvgis_$n" -> sw(col(s"rvgi_$n")))
          ),
          Seq("__rvgi_num", "__rvgi_den")
        ))
      case "smi" =>
        val n = i(p, "length", 10); val fast = i(p, "fast", 5); val slow = i(p, "slow", 3)
        val hh = rmax(high, n); val ll = rmin(low, n)
        val (l1, t1) = emaLv(col("__smi_m"), "__smi_m1", fast)
        val (l2, t2) = emaLv(col("__smi_m1"), "__smi_m2", slow)
        val (l3, t3) = emaLv(col("__smi_r"), "__smi_r1", fast)
        val (l4, t4) = emaLv(col("__smi_r1"), "__smi_r2", slow)
        Some(ColPlan(
          (Seq(Seq("__smi_m" -> (close - (hh + ll) / 2.0), "__smi_r" -> (hh - ll))) ++ l1 ++ l2 ++ l3 ++ l4) :+
            Seq(s"smi_$n" -> (lit(100.0) * sdiv(col("__smi_m2"), col("__smi_r2") / 2.0))),
          Seq("__smi_m", "__smi_r", "__smi_m1", "__smi_m2", "__smi_r1", "__smi_r2") ++ t1 ++ t2 ++ t3 ++ t4
        ))
      case "squeeze" =>
        val bbN = i(p, "bb_length", 20); val kcN = i(p, "kc_length", 20); val momN = i(p, "mom_length", 12)
        val mid = rmean(close, bbN)
        val dev = rstd(close, bbN) * 2.0
        val bbl = mid - dev; val bbu = mid + dev
        val (lb, tb) = emaLv(close, "__sqz_basis", kcN)
        val (lb2, tb2) = emaLv(col("true_range"), "__sqz_band", kcN)
        val kcl = col("__sqz_basis") - lit(1.5) * col("__sqz_band")
        val kcu = col("__sqz_basis") + lit(1.5) * col("__sqz_band")
        val (llr, tlr) = linregLv(col("__sqz_delta"), "__sqz_lr", momN)
        Some(ColPlan(
          (Seq(Seq("true_range" -> trExpr)) ++ lb ++ lb2) ++
            (Seq(Seq(
              "sqz_on" -> when(bbl.isNull || kcl.isNull, lit(null)).otherwise((bbl > kcl && bbu < kcu).cast("double")),
              "sqz_off" -> when(bbl.isNull || kcl.isNull, lit(null)).otherwise((bbl < kcl && bbu > kcu).cast("double")),
              "__sqz_delta" -> (close - ((rmax(high, momN) + rmin(low, momN)) / 2.0 + rmean(close, momN)) / 2.0)
            )) ++ llr) :+
            Seq("sqz_mom" -> col("__sqz_lr_tsf")),
          Seq("true_range", "__sqz_basis", "__sqz_band", "__sqz_delta",
            "__sqz_lr_slope", "__sqz_lr_intercept", "__sqz_lr_tsf", "__sqz_lr_r") ++ tb ++ tb2 ++ tlr
        ))
      case "squeeze_pro" =>
        val bbN = i(p, "bb_length", 20); val kcN = i(p, "kc_length", 20); val momN = i(p, "mom_length", 12)
        val mid = rmean(close, bbN)
        val dev = rstd(close, bbN) * 2.0
        val bbl = mid - dev; val bbu = mid + dev
        val (lb, tb) = emaLv(close, "__sqp_basis", kcN)
        val (lb2, tb2) = emaLv(col("true_range"), "__sqp_band", kcN)
        def onFlag(mult: Double): Column = {
          val kcl = col("__sqp_basis") - lit(mult) * col("__sqp_band")
          val kcu = col("__sqp_basis") + lit(mult) * col("__sqp_band")
          when(bbl.isNull || col("__sqp_basis").isNull, lit(null))
            .otherwise((bbl > kcl && bbu < kcu).cast("double"))
        }
        val (llr, tlr) = linregLv(col("__sqp_delta"), "__sqp_lr", momN)
        Some(ColPlan(
          (Seq(Seq("true_range" -> trExpr)) ++ lb ++ lb2) ++
            (Seq(Seq(
              "sqzpro_on_wide" -> onFlag(2.0),
              "sqzpro_on_normal" -> onFlag(1.5),
              "sqzpro_on_narrow" -> onFlag(1.0),
              "__sqp_delta" -> (close - ((rmax(high, momN) + rmin(low, momN)) / 2.0 + rmean(close, momN)) / 2.0)
            )) ++ llr) :+
            Seq("sqzpro_mom" -> col("__sqp_lr_tsf")),
          Seq("true_range", "__sqp_basis", "__sqp_band", "__sqp_delta",
            "__sqp_lr_slope", "__sqp_lr_intercept", "__sqp_lr_tsf", "__sqp_lr_r") ++ tb ++ tb2 ++ tlr
        ))
      case "stc" =>
        val tc = i(p, "tclength", 10); val fast = i(p, "fast", 12); val slow = i(p, "slow", 26)
        val (l1, t1) = emaLv(close, "__stc_ef", fast)
        val (l2, t2) = emaLv(close, "__stc_es", slow)
        val st1 = lit(100.0) * sdiv(
          col("__stc_macd") - rmin(col("__stc_macd"), tc),
          rmax(col("__stc_macd"), tc) - rmin(col("__stc_macd"), tc)
        )
        val st2 = lit(100.0) * sdiv(
          col("__stc_d1") - rmin(col("__stc_d1"), tc),
          rmax(col("__stc_d1"), tc) - rmin(col("__stc_d1"), tc)
        )
        Some(ColPlan(
          (l1 ++ l2) ++ Seq(
            Seq("__stc_macd" -> (col("__stc_ef") - col("__stc_es"))),
            Seq("__stc_st1" -> st1),
            Seq("__stc_d1" -> ewm(col("__stc_st1"), 0.5)),
            Seq("__stc_st2" -> st2),
            Seq(s"stc_$tc" -> ewm(col("__stc_st2"), 0.5), s"stc_macd_$tc" -> col("__stc_macd"))
          ),
          Seq("__stc_ef", "__stc_es", "__stc_macd", "__stc_st1", "__stc_d1", "__stc_st2") ++ t1 ++ t2
        ))
      case "inertia" =>
        val n = i(p, "length", 20); val rviN = i(p, "rvi_length", 14)
        val sd = rstd(close, rviN)
        val d1 = diff(close)
        val pos = when(d1.isNull || sd.isNull, lit(null)).otherwise(when(d1 > 0, sd).otherwise(0.0))
        val neg = when(d1.isNull || sd.isNull, lit(null)).otherwise(when(d1 < 0, sd).otherwise(0.0))
        val (llr, tlr) = linregLv(col(s"rvi_$rviN"), "__in_lr", n)
        Some(ColPlan(
          (Seq(
            Seq("__in_p" -> rmaOf(pos, rviN), "__in_q" -> rmaOf(neg, rviN)),
            Seq(s"rvi_$rviN" -> (lit(100.0) * sdiv(col("__in_p"), col("__in_p") + col("__in_q"))))
          ) ++ llr) :+
            Seq(s"inertia_$n" -> col("__in_lr_tsf")),
          Seq("__in_p", "__in_q", s"rvi_$rviN",
            "__in_lr_slope", "__in_lr_intercept", "__in_lr_tsf", "__in_lr_r") ++ tlr
        ))
      case "aobv" =>
        val fast = i(p, "fast", 4); val slow = i(p, "slow", 12); val runN = 2
        val sC = "__obv_s"
        val dcl = diff(close)
        val sgn = when(rn === 1, 1.0)
          .otherwise(when(dcl > 0, 1.0).when(dcl < 0, -1.0).otherwise(0.0))
        val (l1, t1) = emaLv(col("obv"), s"obv_fast_$fast", fast)
        val (l2, t2) = emaLv(col("obv"), s"obv_slow_$slow", slow)
        val fInc = diff(col(s"obv_fast_$fast"), runN) > 0
        val fDec = diff(col(s"obv_fast_$fast"), runN) < 0
        val sInc = diff(col(s"obv_slow_$slow"), runN) > 0
        val sDec = diff(col(s"obv_slow_$slow"), runN) < 0
        Some(ColPlan(
          (Seq(Seq(sC -> (sgn * volume)), Seq("obv" -> cumsum(col(sC)))) ++ l1 ++ l2) :+ Seq(
            "aobv_lr" -> when((fInc && sDec) || (fInc && sInc), 1.0).otherwise(0.0),
            "aobv_sr" -> when((fDec && sInc) || (fDec && sDec), 1.0).otherwise(0.0)
          ),
          Seq(sC) ++ t1 ++ t2
        ))
      case "kvo" =>
        val fast = i(p, "fast", 34); val slow = i(p, "slow", 55); val sig = i(p, "signal", 13)
        val tp = (high + low + close) / 3.0
        val dtp = tp - shift(tp, 1)
        val sv = when(dtp > 0, volume).when(dtp < 0, -volume).when(dtp === 0, lit(0.0))
        Some(ColPlan(
          Seq(
            Seq("__kvo_sv" -> sv),
            Seq(
              "__kvo_kf" -> ewm(col("__kvo_sv"), 2.0 / (fast + 1)),
              "__kvo_ks" -> ewm(col("__kvo_sv"), 2.0 / (slow + 1))
            ),
            Seq(s"kvo_$fast" -> (col("__kvo_kf") - col("__kvo_ks"))),
            Seq(s"kvos_$fast" -> ewm(col(s"kvo_$fast"), 2.0 / (sig + 1)))
          ),
          Seq("__kvo_sv", "__kvo_kf", "__kvo_ks")
        ))
      case "tos_stdevall" =>
        val stds = Seq(1, 2, 3)
        val full = org.apache.spark.sql.expressions.Window
          .partitionBy("series_id")
          .orderBy("ts")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing
          )
        val nN = count(close).over(full).cast("double")
        val si = sum(col("__tos_i")).over(full)
        val sii = sum(col("__tos_i") * col("__tos_i")).over(full)
        val sy = sum(close).over(full)
        val siy = sum(col("__tos_i") * close).over(full)
        Some(ColPlan(
          Seq(
            Seq("__tos_i" -> (rn.cast("double") - 1.0)),
            Seq("__tos_b" -> sdiv(nN * siy - si * sy, nN * sii - si * si)),
            Seq(
              "__tos_a" -> ((sy - col("__tos_b") * si) / nN),
              "__tos_sd" -> stddev_samp(close).over(full)
            ),
            Seq("tos_line" -> (col("__tos_a") + col("__tos_b") * col("__tos_i"))),
            stds.flatMap(k => Seq(
              s"tos_u_$k" -> (col("tos_line") + lit(k.toDouble) * col("__tos_sd")),
              s"tos_l_$k" -> (col("tos_line") - lit(k.toDouble) * col("__tos_sd"))
            ))
          ),
          Seq("__tos_i", "__tos_b", "__tos_a", "__tos_sd")
        ))
      case "aroon" =>
        val n = i(p, "length", 10)
        val hs = s"__aroon${n}_hs"; val ls = s"__aroon${n}_ls"
        Some(ColPlan(
          Seq(
            Seq(hs -> collect_list(high).over(f(n + 1)), ls -> collect_list(low).over(f(n + 1))),
            Seq(
              s"aroon_u_$n" -> when(
                size(col(hs)) === n + 1,
                lit(100.0) * (lit(n.toDouble) -
                  (expr(s"array_position(reverse($hs), array_max($hs))") - 1.0)) / n.toDouble
              ),
              s"aroon_d_$n" -> when(
                size(col(ls)) === n + 1,
                lit(100.0) * (lit(n.toDouble) -
                  (expr(s"array_position(reverse($ls), array_min($ls))") - 1.0)) / n.toDouble
              )
            )
          ),
          Seq(hs, ls)
        ))
      case "cdl_doji" =>
        val n = i(p, "length", 10); val factor = dd(p, "factor", 0.1)
        Some(one(
          s"cdl_doji_$n",
          when(rmean(high - low, n).isNotNull && abs(close - open) < lit(factor) * rmean(high - low, n), 1.0)
            .otherwise(when(rmean(high - low, n).isNotNull, 0.0))
        ))
      case "cdl_inside" =>
        val ph = shift(high, 1); val pl = shift(low, 1)
        Some(one("cdl_inside", when(ph.isNotNull && high < ph && low > pl, 1.0).otherwise(0.0)))
      case "cdl_z" =>
        val n = i(p, "length", 10)
        Some(ColPlan(
          Seq(Seq("open", "high", "low", "close").map(s0 =>
            s"${s0}_z_$n" -> sdiv(col(s0) - rmean(col(s0), n), rstd(col(s0), n))
          )),
          Nil
        ))
      case "candle_utils" =>
        Some(ColPlan(
          Seq(Seq(
            "candle_color" -> when(close >= open, 1.0).otherwise(-1.0),
            "real_body" -> abs(close - open),
            "high_low_range" -> (high - low)
          )),
          Nil
        ))
      case "nvi" | "pvi" =>
        val onDown = spec.kind == "nvi"
        val ret = pctChange(close)
        val gate0 = if (onDown) diff(volume) < 0 else diff(volume) > 0
        val term = when(gate0 && ret.isNotNull, log(lit(1.0) + ret)).otherwise(0.0)
        Some(one(spec.kind, lit(1000.0) * exp(sum(term).over(cum))))
      case "cdl_pattern" => Some(ColPlan(Seq(candleDefs.wave1), Nil))
      case "cdl_pattern_2" => Some(ColPlan(Seq(candleDefs.wave2), Nil))
      case "cdl_pattern_3" => Some(ColPlan(Seq(candleDefs.wave3), Nil))
      case "cdl_pattern_4" => Some(ColPlan(Seq(candleDefs.wave4), Nil))
      case "cdl_pattern_5" => Some(ColPlan(Seq(candleDefs.wave5), Nil))
      case "cdl_pattern_6" => Some(ColPlan(Seq(candleDefs.wave6), Nil))
      case _ => None
    }
  }

  /** A REC kernel spec lowered for the batched pass: the kernel's outputs
    * and factory, plus the constant columns it reads besides the bars
    * (names are the ones the kernel's init() resolves). */
  final case class RecPlan(
      outs: Seq[org.apache.spark.sql.types.StructField],
      make: () => rec.Kernel,
      consts: Seq[(String, Double)] = Nil
  ) {
    def staging: Seq[Level] =
      if (consts.isEmpty) Nil else Seq(consts.map { case (n, v) => n -> lit(v) })
  }

  private def dbl(name: String) =
    org.apache.spark.sql.types.StructField(name, org.apache.spark.sql.types.DoubleType, nullable = true)

  /** The kinds batch runs as REC kernels, because no window fold expresses
    * them: jma (11/65-entry ring buffers) and fixed-reference cusum (the
    * trained μ/σ ride as constant columns; retrospective cusum needs a
    * whole-series aggregate and stays on the builder fold). */
  def compileRec(spec: IndicatorSpec): Option[RecPlan] = {
    if (Seq("offset", "fillna", "prefix", "suffix").exists(spec.params.contains)) return None
    val p = spec.params
    spec.kind match {
      case "cusum" if p.contains("mu") && p.contains("sd") =>
        Some(RecPlan(
          Seq(dbl("cusum_pos"), dbl("cusum_neg"),
            org.apache.spark.sql.types.StructField("cusum_alarm", org.apache.spark.sql.types.LongType, nullable = true)),
          { val k = dd(p, "k", 0.5); val h = dd(p, "h", 5.0); () => new rec.Cusum(k, h, "close") },
          Seq("__mu" -> dd(p, "mu", 0.0), "__sd" -> dd(p, "sd", 1.0))
        ))
      case "jma" =>
        val n = i(p, "length", 7); val phase = dd(p, "phase", 0.0)
        Some(RecPlan(Seq(dbl(s"jma_$n")), () => new rec.Jma(n, phase)))
      case _ => None
    }
  }

  /** Merge compiled plans level-by-level; returns the widened DataFrame.
    * `__rn` (global per-series row number, used by every ema seed and
    * decay) is emitted once as a shared level-0 column. */
  def run(df: DataFrame, plans: Seq[ColPlan]): DataFrame = runAll(df, plans, Nil)

  /** Column plans merge into one withColumns per level; REC kernels then
    * run in ONE batched repartition+sort+mapPartitions pass over their
    * staged columns. Temps drop as early as possible (column temps before
    * the kernel shuffle — narrower rows through the exchange). */
  def runAll(df: DataFrame, plans: Seq[ColPlan], recPlans: Seq[RecPlan]): DataFrame = {
    if (plans.isEmpty && recPlans.isEmpty) return df
    // "__" is the compiler's reserved temp namespace: a user column named
    // __rn (or colliding with any lowering's temp) would be silently
    // overwritten here and dropped at the end — fail loudly instead.
    val reserved = df.columns.filter(_.startsWith("__"))
    require(
      reserved.isEmpty,
      s"column prefix '__' is reserved by the strategy compiler; rename: ${reserved.mkString(", ")}"
    )
    val allPlans = plans ++ recPlans.map(rp => ColPlan(rp.staging, rp.consts.map(_._1)))
    val nLevels = if (allPlans.isEmpty) 0 else allPlans.map(_.levels.size).max
    // Stack every level as an unresolved Project over the analyzed base and
    // analyze the whole tree ONCE (GraftBridge.ofRows). The old one-
    // `withColumns`-per-level loop re-ran full analysis per level, and
    // tree-rescanning rules (DeduplicateRelations alone: 0.4s / 0 effective
    // over the 80-spec build) made driver cost quadratic in level count.
    // Semantics are withColumns': same-name columns replace in place,
    // new columns append in level order.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.{GraftBridge => B}
    val e = B.expressionEager _
    var names = df.columns.toVector
    var plan = B.analyzed(df)
    val level0: Level = Seq("__rn" -> rn)
    for (k <- -1 until nLevels) {
      val cols =
        if (k < 0) level0 else allPlans.flatMap(_.levels.lift(k).getOrElse(Nil))
      if (cols.nonEmpty) {
        // duplicate names (e.g. true_range from atr+natr+chop in one batch):
        // keep the LAST occurrence — the same replace-semantics the builder
        // fold has (the colliding expressions are identical by construction
        // for the shared-stage cases)
        val dedup = cols.map(_._1).distinct.map(n0 => n0 -> cols.reverse.find(_._1 == n0).get._2)
        val byName = dedup.toMap
        val kept: Seq[NamedExpression] = names.map { n0 =>
          byName.get(n0) match {
            case Some(c) => Alias(e(c), n0)()
            case None    => UnresolvedAttribute(Seq(n0))
          }
        }
        val appended = dedup.filterNot(c => names.contains(c._1))
        plan = Project(kept ++ appended.map { case (n0, c) => Alias(e(c), n0)() }, plan)
        names = names ++ appended.map(_._1)
      }
    }
    var d = B.ofRows(df.sparkSession, plan)
    // a column one plan treats as scratch (e.g. adx's true_range) may be
    // another plan's declared OUTPUT (the atr builder keeps true_range):
    // outputs win, only globally-unclaimed temps are dropped
    val outputs = allPlans.flatMap(pl => pl.levels.flatten.map(_._1).filterNot(pl.temps.contains)).toSet
    val kernelNeeds = recPlans.flatMap(_.consts.map(_._1)).toSet
    val earlyTemps = ("__rn" +: plans.flatMap(_.temps)).distinct
      .filterNot(outputs.contains)
      .filterNot(kernelNeeds.contains)
    if (allPlans.nonEmpty) d = d.drop(earlyTemps: _*)
    if (recPlans.nonEmpty) {
      d = rec.perSeriesBatch(d, recPlans.map(rp => (rp.outs, rp.make)))
      val lateTemps = recPlans.flatMap(_.consts.map(_._1)).distinct.filterNot(outputs.contains)
      d = d.drop(lateTemps: _*)
    }
    d
  }
}
