package graft.ta

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import rec.Kernel

/** Reference REC kernels for the window folds that replaced them in batch
  * and streaming (functions.RecFolds): RecFoldSpec proves each fold equals
  * its kernel bit for bit, the way the kernels were once checked against
  * the reference library. Test code only. */
object RecKernels {
  private def d(row: Row, i: Int): Double = row.getDouble(i)
  private def isN(row: Row, i: Int): Boolean = row.isNullAt(i)

  /** Parabolic SAR (reference: pandas_ta/trend/psar.py, declared spec
    * SURVEY §2.B). Row 0 emits nulls (initialization row). Initial trend:
    * rising iff close₁ ≥ close₀; rising seed sar = low₀, ep = max(high₀,
    * high₁); falling seed sar = high₀, ep = min(low₀, low₁).
    * Step: sar += af·(ep − sar), clamped to the prior two lows (rising) /
    * highs (falling); new extreme bumps af by af0 up to maxAf; price
    * crossing sar reverses (sar := ep, af := af0).
    * Outputs: psar_long (sar while rising), psar_short (sar while
    * falling), psar_af, psar_reversal (0/1). */
  final class Psar(af0: Double = 0.02, afStep: Double = 0.02, maxAf: Double = 0.2)
      extends Kernel {
    private var iH, iL, iC = 0
    private var n = 0
    private var rising = false
    private var sar, ep, af = 0.0
    private var h0, l0, c0 = 0.0
    private var prevLo1, prevLo2, prevHi1, prevHi2 = 0.0

    def init(schema: StructType): Unit = {
      iH = schema.fieldIndex("high"); iL = schema.fieldIndex("low")
      iC = schema.fieldIndex("close")
    }
    def reset(): Unit = { n = 0 }

    def update(row: Row): Array[Any] = {
      val h = d(row, iH); val l = d(row, iL); val c = d(row, iC)
      n += 1
      if (n == 1) {
        h0 = h; l0 = l; c0 = c
        prevHi1 = h; prevLo1 = l; prevHi2 = h; prevLo2 = l
        return Array(null, null, null, null)
      }
      if (n == 2) {
        rising = c >= c0
        if (rising) { sar = l0; ep = math.max(h0, h) }
        else { sar = h0; ep = math.min(l0, l) }
        af = af0
      } else {
        sar = sar + af * (ep - sar)
        if (rising) sar = math.min(sar, math.min(prevLo1, prevLo2))
        else sar = math.max(sar, math.max(prevHi1, prevHi2))
        if (rising) {
          if (h > ep) { ep = h; af = math.min(af + afStep, maxAf) }
        } else {
          if (l < ep) { ep = l; af = math.min(af + afStep, maxAf) }
        }
      }
      var rev = 0
      if (rising && l < sar) {
        rising = false; rev = 1; sar = ep; ep = l; af = af0
      } else if (!rising && h > sar) {
        rising = true; rev = 1; sar = ep; ep = h; af = af0
      }
      prevLo2 = prevLo1; prevLo1 = l; prevHi2 = prevHi1; prevHi1 = h
      Array(
        if (rising) sar else null,
        if (!rising) sar else null,
        af,
        rev
      )
    }
  }

  /** Supertrend (reference: pandas_ta/overlap/supertrend.py, declared
    * spec). ATR = Wilder rma of true range computed in-kernel with the
    * exact rmaOf semantics (seed tr₁, mask until n TRs seen). Bands:
    * ub/lb = hl2 ± mult·atr with monotone carry; direction flips when
    * close crosses the carried band. Outputs: st (trend line), st_dir
    * (±1), st_long, st_short — null until atr is defined. */
  final class Supertrend(n: Int = 7, mult: Double = 3.0) extends Kernel {
    private var iH, iL, iC = 0
    private var rows = 0
    private var trCount = 0
    private var atr = 0.0
    private var prevClose = 0.0
    private var haveBands = false
    private var ub, lb = 0.0
    private var dir = 1

    def init(schema: StructType): Unit = {
      iH = schema.fieldIndex("high"); iL = schema.fieldIndex("low")
      iC = schema.fieldIndex("close")
    }
    def reset(): Unit = { rows = 0; trCount = 0; haveBands = false; dir = 1 }

    def update(row: Row): Array[Any] = {
      val h = d(row, iH); val l = d(row, iL); val c = d(row, iC)
      rows += 1
      if (rows == 1) { prevClose = c; return Array(null, null, null, null) }
      val tr = math.max(h - l, math.max(math.abs(h - prevClose), math.abs(l - prevClose)))
      trCount += 1
      atr = if (trCount == 1) tr else (1.0 - 1.0 / n) * atr + tr / n
      val pc = prevClose
      prevClose = c
      if (trCount < n) return Array(null, null, null, null)
      val hl2 = (h + l) / 2.0
      var nub = hl2 + mult * atr
      var nlb = hl2 - mult * atr
      if (haveBands) {
        // carry: bands only ratchet while price stays inside
        if (nlb < lb && pc > lb) nlb = lb
        if (nub > ub && pc < ub) nub = ub
        if (c > ub) dir = 1 else if (c < lb) dir = -1
      } else {
        dir = 1
        haveBands = true
      }
      ub = nub; lb = nlb
      val st = if (dir == 1) lb else ub
      Array(st, dir, if (dir == 1) lb else null, if (dir == -1) ub else null)
    }
  }

  /** Heikin-Ashi (reference: pandas_ta/candles/ha.py). ha_close =
    * ohlc4; ha_open₀ = (o₀+c₀)/2 then (ha_open'+ha_close')/2;
    * ha_high/low = max/min against h/l. */
  final class HeikinAshi extends Kernel {
    private var iO, iH, iL, iC = 0
    private var first = true
    private var prevHaOpen, prevHaClose = 0.0
    def init(schema: StructType): Unit = {
      iO = schema.fieldIndex("open"); iH = schema.fieldIndex("high")
      iL = schema.fieldIndex("low"); iC = schema.fieldIndex("close")
    }
    def reset(): Unit = { first = true }
    def update(row: Row): Array[Any] = {
      val o = d(row, iO); val h = d(row, iH); val l = d(row, iL); val c = d(row, iC)
      val haClose = (o + h + l + c) / 4.0
      val haOpen = if (first) (o + c) / 2.0 else (prevHaOpen + prevHaClose) / 2.0
      first = false
      prevHaOpen = haOpen; prevHaClose = haClose
      val haHigh = math.max(h, math.max(haOpen, haClose))
      val haLow = math.min(l, math.min(haOpen, haClose))
      Array(haOpen, haHigh, haLow, haClose)
    }
  }

  /** McGinley Dynamic (reference: pandas_ta/overlap/mcgd.py):
    * y₀ = x₀; y = y' + (x − y')/(n·(x/y')⁴), guarding y' = 0. */
  final class Mcgd(n: Int = 10, src: String = "close") extends Kernel {
    private var iX = 0
    private var first = true
    private var y = 0.0
    def init(schema: StructType): Unit = { iX = schema.fieldIndex(src) }
    def reset(): Unit = { first = true }
    def update(row: Row): Array[Any] = {
      if (isN(row, iX)) return Array(if (first) null else y)
      val x = d(row, iX)
      if (first) { y = x; first = false }
      else if (y != 0.0) {
        val r = x / y
        y = y + (x - y) / (n * r * r * r * r)
      }
      Array(y)
    }
  }

  /** Fisher transform recursion (reference: pandas_ta/momentum/fisher.py).
    * Consumes a pre-computed `__pos` column (2·((hl2 − LL)/(HH − LL) − ½)
    * over the rolling window, null during warm-up): v = 0.66·pos +
    * 0.67·v', clamped ±0.999; fisher = 0.5·ln((1+v)/(1−v)) + 0.5·fisher';
    * signal = previous fisher. */
  final class Fisher extends Kernel {
    private var iP = 0
    private var v, fish = 0.0
    private var have = false
    def init(schema: StructType): Unit = { iP = schema.fieldIndex("__pos") }
    def reset(): Unit = { v = 0.0; fish = 0.0; have = false }
    def update(row: Row): Array[Any] = {
      if (isN(row, iP)) return Array(null, null)
      val pos = d(row, iP)
      var nv = 0.66 * pos + 0.67 * v
      if (nv > 0.999) nv = 0.999 else if (nv < -0.999) nv = -0.999
      val prevFish = fish
      val nf = 0.5 * math.log((1.0 + nv) / (1.0 - nv)) + 0.5 * fish
      v = nv; fish = nf
      val sig: Any = if (have) prevFish else null
      have = true
      Array(nf, sig)
    }
  }

  /** Ehlers 2-pole super smoother (reference: pandas_ta/overlap/ssf.py):
    * y = c1·x + c2·y' + c3·y'' with a = exp(−√2·π/n),
    * b = 2a·cos(√2·π/n), c2 = b, c3 = −a², c1 = 1 − c2 − c3.
    * Seeds: y₀ = x₀, y₁ = x₁. */
  final class Ssf(n: Int = 10, src: String = "close") extends Kernel {
    private var iX = 0
    private val a = math.exp(-math.sqrt(2.0) * math.Pi / n)
    private val b = 2.0 * a * math.cos(math.sqrt(2.0) * math.Pi / n)
    private val c2 = b
    private val c3 = -a * a
    private val c1 = 1.0 - c2 - c3
    private var y1, y2 = 0.0
    private var count = 0
    def init(schema: StructType): Unit = { iX = schema.fieldIndex(src) }
    def reset(): Unit = { count = 0 }
    def update(row: Row): Array[Any] = {
      if (isN(row, iX)) return Array(if (count == 0) null else y1)
      val x = d(row, iX)
      count += 1
      val y = if (count <= 2) x else c1 * x + c2 * y1 + c3 * y2
      y2 = y1; y1 = y
      Array(y)
    }
  }

  /** Holt-Winter MA (reference: pandas_ta/overlap/hwma.py), defaults
    * na=0.2 nb=0.1 nc=0.1; state F/V/A seeded F₀=x₀, V₀=A₀=0:
    * F = (1−na)(F'+V'+½A') + na·x; V = (1−nb)(V'+A') + nb(F−F');
    * A = (1−nc)A' + nc(V−V'); hwma = F + V + ½A. */
  final class Hwma(na: Double = 0.2, nb: Double = 0.1, nc: Double = 0.1, src: String = "close")
      extends Kernel {
    private var iX = 0
    private var first = true
    private var fS, vS, aS = 0.0
    def init(schema: StructType): Unit = { iX = schema.fieldIndex(src) }
    def reset(): Unit = { first = true; fS = 0.0; vS = 0.0; aS = 0.0 }
    def update(row: Row): Array[Any] = {
      if (isN(row, iX)) return Array(if (first) null else fS + vS + 0.5 * aS)
      val x = d(row, iX)
      if (first) { fS = x; vS = 0.0; aS = 0.0; first = false }
      else {
        val pf = fS; val pv = vS; val pa = aS
        fS = (1.0 - na) * (pf + pv + 0.5 * pa) + na * x
        vS = (1.0 - nb) * (pv + pa) + nb * (fS - pf)
        aS = (1.0 - nc) * pa + nc * (vS - pv)
      }
      Array(fS + vS + 0.5 * aS)
    }
  }

  /** TD Sequential setup counters (reference: pandas_ta/momentum/td_seq.py,
    * declared): consecutive count of close > close[4] (up) / close <
    * close[4] (down); counts wrap 9 → 1; 0 when the condition fails; null
    * while close[4] is undefined. Consumes staged `__c4` = lag(close, 4). */
  final class TdSeq extends Kernel {
    private var iC, iC4 = 0
    private var up, dn = 0L
    def init(schema: StructType): Unit = {
      iC = schema.fieldIndex("close"); iC4 = schema.fieldIndex("__c4")
    }
    def reset(): Unit = { up = 0L; dn = 0L }
    def update(row: Row): Array[Any] = {
      if (isN(row, iC4)) return Array(null, null)
      val c = d(row, iC); val c4 = d(row, iC4)
      up = if (c > c4) (if (up == 9L) 1L else up + 1L) else 0L
      dn = if (c < c4) (if (dn == 9L) 1L else dn + 1L) else 0L
      Array(up, dn)
    }
  }

  /** QQE trailing bands (reference: pandas_ta/momentum/qqe.py, declared):
    * consumes staged `__rsima` (ema of rsi) and `__dar` (double-Wilder-
    * smoothed |Δrsima| × 4.236). Long band ratchets up while rsima stays
    * above it; short band ratchets down; trend flips when rsima crosses
    * the carried opposite band. qqe = active band. */
  final class Qqe extends Kernel {
    private var iR, iD = 0
    private var have = false
    private var prsima, plb, psb = 0.0
    private var trend = 1
    def init(schema: StructType): Unit = {
      iR = schema.fieldIndex("__rsima"); iD = schema.fieldIndex("__dar")
    }
    def reset(): Unit = { have = false; trend = 1 }
    def update(row: Row): Array[Any] = {
      if (isN(row, iR) || isN(row, iD)) return Array(null, null, null, null)
      val r = d(row, iR); val dar = d(row, iD)
      val nl = r - dar; val ns = r + dar
      if (!have) {
        plb = nl; psb = ns; prsima = r; have = true; trend = 1
        return Array(if (trend == 1) plb else psb, trend, plb, psb)
      }
      val lb = if (prsima > plb && r > plb) math.max(plb, nl) else nl
      val sb = if (prsima < psb && r < psb) math.min(psb, ns) else ns
      if (r > psb && prsima <= psb) trend = 1
      else if (r < plb && prsima >= plb) trend = -1
      plb = lb; psb = sb; prsima = r
      Array(if (trend == 1) lb else sb, trend, lb, sb)
    }
  }

  /** Jurik RSX (reference: pandas_ta/momentum/rsx.py, declared): the
    * public-domain three-stage cascade filter on the 100·close momentum
    * and its absolute value; rsx = 100·(v14/v20 + 1)/2 clamped [0,100],
    * masked for the first n rows. */
  final class Rsx(n: Int = 14) extends Kernel {
    private var iC = 0
    private val f18 = 3.0 / (n + 2.0)
    private val f20 = 1.0 - f18
    private var count = 0L
    private var f8p = 0.0
    private var f28, f30, f38, f40, f48, f50 = 0.0
    private var f58, f60, f68, f70, f78, f80 = 0.0
    def init(schema: StructType): Unit = { iC = schema.fieldIndex("close") }
    def reset(): Unit = {
      count = 0L; f8p = 0.0
      f28 = 0; f30 = 0; f38 = 0; f40 = 0; f48 = 0; f50 = 0
      f58 = 0; f60 = 0; f68 = 0; f70 = 0; f78 = 0; f80 = 0
    }
    def update(row: Row): Array[Any] = {
      val f8 = 100.0 * d(row, iC)
      count += 1
      if (count == 1L) { f8p = f8; return Array(null) }
      val v8 = f8 - f8p
      f8p = f8
      f28 = f20 * f28 + f18 * v8
      f30 = f18 * f28 + f20 * f30
      val vC = 1.5 * f28 - 0.5 * f30
      f38 = f20 * f38 + f18 * vC
      f40 = f18 * f38 + f20 * f40
      val v10 = 1.5 * f38 - 0.5 * f40
      f48 = f20 * f48 + f18 * v10
      f50 = f18 * f48 + f20 * f50
      val v14 = 1.5 * f48 - 0.5 * f50
      val a8 = math.abs(v8)
      f58 = f20 * f58 + f18 * a8
      f60 = f18 * f58 + f20 * f60
      val vD = 1.5 * f58 - 0.5 * f60
      f68 = f20 * f68 + f18 * vD
      f70 = f18 * f68 + f20 * f70
      val v18 = 1.5 * f68 - 0.5 * f70
      f78 = f20 * f78 + f18 * v18
      f80 = f18 * f78 + f20 * f80
      val v20 = 1.5 * f78 - 0.5 * f80
      if (count <= n + 1) return Array(null)
      val rsx =
        if (v20 == 0.0) 50.0
        else math.max(0.0, math.min(100.0, 100.0 * (v14 / v20 + 1.0) / 2.0))
      Array(rsx)
    }
  }

  /** Ehlers Even Better SineWave (reference: pandas_ta/cycles/ebsw.py,
    * declared): 1-pole HP filter (duration n) → 2-pole super smoother
    * (bars) → 3-bar wave/power normalization. Null for the first 2 rows. */
  final class Ebsw(n: Int = 40, bars: Int = 10) extends Kernel {
    private var iC = 0
    private val alpha1 = (1.0 - math.sin(2.0 * math.Pi / n)) / math.cos(2.0 * math.Pi / n)
    private val a1 = math.exp(-math.sqrt(2.0) * math.Pi / bars)
    private val b1 = 2.0 * a1 * math.cos(math.sqrt(2.0) * math.Pi / bars)
    private val c2 = b1
    private val c3 = -a1 * a1
    private val c1 = 1.0 - c2 - c3
    private var count = 0L
    private var prevClose, hp1, f1, f2 = 0.0
    def init(schema: StructType): Unit = { iC = schema.fieldIndex("close") }
    def reset(): Unit = { count = 0L; hp1 = 0; f1 = 0; f2 = 0 }
    def update(row: Row): Array[Any] = {
      val c = d(row, iC)
      count += 1
      if (count == 1L) { prevClose = c; return Array(null) }
      val hp = 0.5 * (1.0 + alpha1) * (c - prevClose) + alpha1 * hp1
      prevClose = c
      val filt = c1 * (hp + hp1) / 2.0 + c2 * f1 + c3 * f2
      hp1 = hp
      val wave = (filt + f1 + f2) / 3.0
      val pwr = (filt * filt + f1 * f1 + f2 * f2) / 3.0
      f2 = f1; f1 = filt
      if (count <= 3L) return Array(null)
      Array(if (pwr > 0.0) wave / math.sqrt(pwr) else null)
    }
  }

  /** Holt-Winter channel (reference: pandas_ta/volatility/hwc.py,
    * declared): hwma F/V/A recursion + variance recursion
    * var = (1−nd)·var' + nd·(x − hwma')², bands = hwma ± k·√var. */
  final class Hwc(
      na: Double = 0.2, nb: Double = 0.1, nc: Double = 0.1,
      nd: Double = 0.1, k: Double = 1.0
  ) extends Kernel {
    private var iX = 0
    private var first = true
    private var fS, vS, aS, varS, prevHwma = 0.0
    def init(schema: StructType): Unit = { iX = schema.fieldIndex("close") }
    def reset(): Unit = { first = true; varS = 0.0 }
    def update(row: Row): Array[Any] = {
      val x = d(row, iX)
      if (first) {
        fS = x; vS = 0.0; aS = 0.0; varS = 0.0; first = false
        prevHwma = fS + vS + 0.5 * aS
        return Array(prevHwma, prevHwma, prevHwma)
      }
      val pf = fS; val pv = vS; val pa = aS
      fS = (1.0 - na) * (pf + pv + 0.5 * pa) + na * x
      vS = (1.0 - nb) * (pv + pa) + nb * (fS - pf)
      aS = (1.0 - nc) * pa + nc * (vS - pv)
      val hwma = fS + vS + 0.5 * aS
      varS = (1.0 - nd) * varS + nd * (x - prevHwma) * (x - prevHwma)
      prevHwma = hwma
      val sd = math.sqrt(varS)
      Array(hwma, hwma + k * sd, hwma - k * sd)
    }
  }

  /** Gann HiLo activator state (reference: pandas_ta/overlap/hilo.py).
    * Consumes pre-computed `__mh` = sma(high, 13), `__ml` = sma(low, 21)
    * columns; trend flips when close crosses the PREVIOUS row's band:
    * close > mh' → 1, close < ml' → −1, else carry. hilo = ml when trend
    * is 1 else mh. Null until both prior MAs exist. */
  final class Hilo extends Kernel {
    private var iC, iMh, iMl = 0
    private var trend = 0
    private var pmh, pml = Double.NaN
    def init(schema: StructType): Unit = {
      iC = schema.fieldIndex("close")
      iMh = schema.fieldIndex("__mh"); iMl = schema.fieldIndex("__ml")
    }
    def reset(): Unit = { trend = 0; pmh = Double.NaN; pml = Double.NaN }
    def update(row: Row): Array[Any] = {
      val c = d(row, iC)
      val mh = if (isN(row, iMh)) Double.NaN else d(row, iMh)
      val ml = if (isN(row, iMl)) Double.NaN else d(row, iMl)
      val out: Array[Any] =
        if (pmh.isNaN || pml.isNaN) Array(null, null, null)
        else {
          if (c > pmh) trend = 1 else if (c < pml) trend = -1
          if (trend == 0) Array(null, null, null)
          else if (trend == 1) Array(ml, ml, null)
          else Array(mh, null, mh)
        }
      pmh = mh; pml = ml
      out
    }
  }

  /** 1-D Kalman filter, local-level model (the classic price-smoothing
    * filter): predict P′ = P + q; gain K = P′/(P′+r); update
    * x = x′ + K·(z − x′), P = (1−K)·P′. Seeds x₀ = z₀, P₀ = 1 (gain null
    * on the seed row). Null z → emit current level, gain null, state
    * unchanged. q = process noise, r = observation noise — q/r sets the
    * smoothing bandwidth. */
  final class Kalman(q: Double = 0.01, rNoise: Double = 1.0, src: String = "close")
      extends Kernel {
    private var iX = 0
    private var started = false
    private var x, p = 0.0
    def init(schema: StructType): Unit = { iX = schema.fieldIndex(src) }
    def reset(): Unit = { started = false; x = 0.0; p = 0.0 }
    def update(row: Row): Array[Any] = {
      if (isN(row, iX))
        return Array(if (started) Double.box(x) else null, null)
      val z = d(row, iX)
      if (!started) { x = z; p = 1.0; started = true; return Array(Double.box(x), null) }
      val pp = p + q
      val k0 = pp / (pp + rNoise)
      x = x + k0 * (z - x)
      p = (1.0 - k0) * pp
      Array(Double.box(x), Double.box(k0))
    }
  }
}
