package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Round-9 extension of the SeededComposites fold layer to the
  * BRANCHING per-row state machines (SURVEY.md §2.A REC class): psar and
  * supertrend, previously only reachable through RecKernels.Psar/RecKernels.Supertrend
  * mapPartitions kernels (graft.ta.rec). Both have O(1) state whose
  * update is a pure If-tree over the previous state — exactly the shape
  * a DeclarativeAggregate window buffer expresses — so each collapses
  * into ONE AggregateWindowFunction over the canonical
  * (series_id, ts) running frame.
  *
  * Why fold instead of mapPartitions (round-8 verdict #1):
  *  - a mixed W+REC Strategy batch stops paying a second Exchange —
  *    rec.perSeriesBatch re-`repartition(series_id)`s what the WindowExec
  *    already partitioned (PlanShapeSpec gate: sma+psar = one Exchange);
  *  - the canonical hard cases become SQL-callable (`graft_psar`,
  *    `graft_supertrend`);
  *  - the fold stays inside Tungsten rows (no Row boxing per row).
  *
  * Arithmetic is REPLICATED OPERATION-FOR-OPERATION from the kernel
  * spellings (rec.scala:112 Psar, rec.scala:172 Supertrend), which stay
  * as the spec references RecFoldSpec proves bit-identity against —
  * same If trees, same add/multiply order, same Least/Greatest nesting.
  * Contract shared with the kernels: non-null high/low/close (bars
  * schema); ring-buffer kernels (jma, rsx) stay on mapPartitions —
  * their state is not O(1) expression slots.
  */
object RecFolds {

  private val nullD = Literal.create(null, DoubleType)
  private val nullI = Literal.create(null, IntegerType)

  /** Parabolic SAR (reference: pandas_ta/trend/psar.py, declared spec
    * SURVEY §2.B) as ONE window fold emitting STRUCT(long, short, af,
    * rev). State machine = RecKernels.Psar verbatim: row 1 records the seed
    * bars and emits nulls; row 2 picks the trend from close₁ ≥ close₀
    * and seeds sar/ep; row ≥ 3 steps sar += af·(ep − sar) clamped to
    * the prior two lows (rising) / highs (falling) and bumps af on a
    * new extreme; every row ≥ 2 then runs the shared reversal stage
    * (price crossing sar flips the trend, sar := ep, af := af0). */
  case class PsarFold(h: Expression, l: Expression, c: Expression,
      af0: Double, afStep: Double, maxAf: Double)
      extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(h, l, c)
    override def dataType: DataType = StructType(Seq(
      StructField("long", DoubleType),
      StructField("short", DoubleType),
      StructField("af", DoubleType),
      StructField("rev", IntegerType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_psar_k"

    private lazy val pos = AttributeReference("psarPos", LongType, nullable = false)()
    private lazy val rising = AttributeReference("psarRising", BooleanType, nullable = false)()
    private lazy val sar = AttributeReference("psarSar", DoubleType, nullable = false)()
    private lazy val ep = AttributeReference("psarEp", DoubleType, nullable = false)()
    private lazy val af = AttributeReference("psarAf", DoubleType, nullable = false)()
    private lazy val ph1 = AttributeReference("psarPh1", DoubleType, nullable = false)()
    private lazy val ph2 = AttributeReference("psarPh2", DoubleType, nullable = false)()
    private lazy val pl1 = AttributeReference("psarPl1", DoubleType, nullable = false)()
    private lazy val pl2 = AttributeReference("psarPl2", DoubleType, nullable = false)()
    private lazy val pc = AttributeReference("psarPc", DoubleType, nullable = false)()
    private lazy val rev = AttributeReference("psarRev", IntegerType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] =
      Seq(pos, rising, sar, ep, af, ph1, ph2, pl1, pl2, pc, rev)
    override val initialValues: Seq[Expression] = Seq(
      Literal(0L), Literal(false), Literal(0.0), Literal(0.0), Literal(0.0),
      Literal(0.0), Literal(0.0), Literal(0.0), Literal(0.0), Literal(0.0), Literal(0)
    )

    override lazy val updateExpressions: Seq[Expression] = {
      val posN = Add(pos, Literal(1L))
      val isRow1 = EqualTo(posN, Literal(1L))
      val isRow2 = EqualTo(posN, Literal(2L))
      // stage A: row-2 seed or row-≥3 step (kernel lines n==2 / else)
      val seedRising = GreaterThanOrEqual(c, pc) // close ≥ close₀ (pc = row-1 close)
      val risingA = If(isRow2, seedRising, rising)
      val sarStep = Add(sar, Multiply(af, Subtract(ep, sar)))
      val sarClamped = If(rising,
        Least(Seq(sarStep, Least(Seq(pl1, pl2)))),
        Greatest(Seq(sarStep, Greatest(Seq(ph1, ph2)))))
      val sarA = If(isRow2, If(seedRising, pl1, ph1), sarClamped) // seed: l₀ / h₀
      val newExtreme = If(rising, GreaterThan(h, ep), LessThan(l, ep))
      val epA = If(isRow2,
        If(seedRising, Greatest(Seq(ph1, h)), Least(Seq(pl1, l))), // max(h₀,h) / min(l₀,l)
        If(newExtreme, If(rising, h, l), ep))
      val afA = If(isRow2, Literal(af0),
        If(newExtreme, Least(Seq(Add(af, Literal(afStep)), Literal(maxAf))), af))
      // stage B: shared reversal (kernel: rising && l < sar → flip, etc.)
      val revB = Or(And(risingA, LessThan(l, sarA)), And(Not(risingA), GreaterThan(h, sarA)))
      val risingN = If(revB, Not(risingA), risingA)
      val sarN = If(revB, epA, sarA)
      val epN = If(revB, If(risingA, l, h), epA)
      val afN = If(revB, Literal(af0), afA)
      Seq(
        posN,
        If(isRow1, Literal(false), risingN),
        If(isRow1, Literal(0.0), sarN),
        If(isRow1, Literal(0.0), epN),
        If(isRow1, Literal(0.0), afN),
        h, // ph1 := h always (kernel: prevHi1 = h)
        If(isRow1, h, ph1), // row 1 seeds prevHi2 = h, later rows carry old ph1
        l,
        If(isRow1, l, pl1),
        c,
        If(isRow1, Literal(0), If(revB, Literal(1), Literal(0)))
      )
    }

    override lazy val evaluateExpression: Expression = {
      val live = GreaterThanOrEqual(pos, Literal(2L)) // row 1 emits nulls
      CreateNamedStruct(Seq(
        Literal("long"), If(And(live, rising), sar, nullD),
        Literal("short"), If(And(live, Not(rising)), sar, nullD),
        Literal("af"), If(live, af, nullD),
        Literal("rev"), If(live, rev, nullI)
      ))
    }
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): PsarFold =
      copy(h = c0(0), l = c0(1), c = c0(2))
  }

  /** Supertrend (reference: pandas_ta/overlap/supertrend.py, declared
    * spec) as ONE window fold emitting STRUCT(st, dir, long, short).
    * State machine = RecKernels.Supertrend verbatim: in-fold Wilder ATR over
    * the true range (seed tr₁, recurrence (1−1/n)·atr + tr/n), bands
    * ub/lb = hl2 ± mult·atr with the monotone carry gated on the prior
    * close, direction flip when close crosses the carried band. Null
    * until n true ranges are seen (row n+1). haveBands is positional
    * (pos ≥ n+1), so no boolean slot is needed. */
  case class SupertrendFold(h: Expression, l: Expression, c: Expression,
      n: Int, mult: Double)
      extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(h, l, c)
    override def dataType: DataType = StructType(Seq(
      StructField("st", DoubleType),
      StructField("dir", IntegerType),
      StructField("long", DoubleType),
      StructField("short", DoubleType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_supertrend_k"

    private lazy val pos = AttributeReference("stPos", LongType, nullable = false)()
    private lazy val atr = AttributeReference("stAtr", DoubleType, nullable = false)()
    private lazy val pc = AttributeReference("stPc", DoubleType, nullable = false)()
    private lazy val ub = AttributeReference("stUb", DoubleType, nullable = false)()
    private lazy val lb = AttributeReference("stLb", DoubleType, nullable = false)()
    private lazy val dir = AttributeReference("stDir", IntegerType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] =
      Seq(pos, atr, pc, ub, lb, dir)
    override val initialValues: Seq[Expression] = Seq(
      Literal(0L), Literal(0.0), Literal(0.0), Literal(0.0), Literal(0.0), Literal(1)
    )

    override lazy val updateExpressions: Seq[Expression] = {
      val posN = Add(pos, Literal(1L))
      val isRow1 = EqualTo(posN, Literal(1L))
      val nL = Literal((n + 1).toLong) // first band row
      // tr/atr from row 2 (kernel: trCount == 1 seeds atr = tr)
      val tr = Greatest(Seq(Subtract(h, l),
        Greatest(Seq(Abs(Subtract(h, pc)), Abs(Subtract(l, pc))))))
      val atrN = If(EqualTo(posN, Literal(2L)), tr,
        Add(Multiply(Literal(1.0 - 1.0 / n), atr), Divide(tr, Literal(n.toDouble))))
      // bands from row n+1; carry gated on prior close vs PRIOR bands
      val hl2 = Divide(Add(h, l), Literal(2.0))
      val nub0 = Add(hl2, Multiply(Literal(mult), atrN))
      val nlb0 = Subtract(hl2, Multiply(Literal(mult), atrN))
      val haveB = GreaterThanOrEqual(pos, nL) // bands existed before this row
      val nlb = If(And(haveB, And(LessThan(nlb0, lb), GreaterThan(pc, lb))), lb, nlb0)
      val nub = If(And(haveB, And(GreaterThan(nub0, ub), LessThan(pc, ub))), ub, nub0)
      val dirN = If(haveB,
        If(GreaterThan(c, ub), Literal(1), If(LessThan(c, lb), Literal(-1), dir)),
        Literal(1))
      val inBand = GreaterThanOrEqual(posN, nL)
      Seq(
        posN,
        If(isRow1, atr, atrN),
        c,
        If(inBand, nub, ub),
        If(inBand, nlb, lb),
        If(inBand, dirN, dir)
      )
    }

    override lazy val evaluateExpression: Expression = {
      val live = GreaterThanOrEqual(pos, Literal((n + 1).toLong))
      val isUp = EqualTo(dir, Literal(1))
      CreateNamedStruct(Seq(
        Literal("st"), If(live, If(isUp, lb, ub), nullD),
        Literal("dir"), If(live, dir, nullI),
        Literal("long"), If(And(live, isUp), lb, nullD),
        Literal("short"), If(And(live, Not(isUp)), ub, nullD)
      ))
    }
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): SupertrendFold =
      copy(h = c0(0), l = c0(1), c = c0(2))
  }

  // ==================================================================
  // Round-9 wave 2: every remaining FIXED-SLOT REC kernel lowers to a
  // fold (ha, mcgd, ssf, hwma, kalman, ebsw, hwc, td_seq, rsx — even
  // rsx's 12-filter cascade is twelve named doubles, not a ring).
  // Only jma (11- and 65-entry volatility rings) stays on
  // mapPartitions. Arithmetic replicates each kernel spelling
  // operation-for-operation (RecFoldSpec proves bit-identity); the
  // kernels remain the streaming path and the spec references.
  // ==================================================================

  /** Heikin-Ashi bars (RecKernels.HeikinAshi) — STRUCT(ha_open, ha_high,
    * ha_low, ha_close). The current bar's high/low ride buffer slots so
    * evaluate sees them (evaluate reads only the buffer). */
  case class HaFold(o: Expression, h: Expression, l: Expression, c: Expression)
      extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(o, h, l, c)
    override def dataType: DataType = StructType(Seq(
      StructField("ha_open", DoubleType),
      StructField("ha_high", DoubleType),
      StructField("ha_low", DoubleType),
      StructField("ha_close", DoubleType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_ha_k"

    private lazy val pos = AttributeReference("haPos", LongType, nullable = false)()
    private lazy val ho = AttributeReference("haOpen", DoubleType, nullable = false)()
    private lazy val hc = AttributeReference("haClose", DoubleType, nullable = false)()
    private lazy val bh = AttributeReference("haBarH", DoubleType, nullable = false)()
    private lazy val bl = AttributeReference("haBarL", DoubleType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] = Seq(pos, ho, hc, bh, bl)
    override val initialValues: Seq[Expression] =
      Seq(Literal(0L), Literal(0.0), Literal(0.0), Literal(0.0), Literal(0.0))
    override lazy val updateExpressions: Seq[Expression] = {
      val posN = Add(pos, Literal(1L))
      val haClose = Divide(Add(Add(Add(o, h), l), c), Literal(4.0))
      val haOpen = If(EqualTo(posN, Literal(1L)),
        Divide(Add(o, c), Literal(2.0)),
        Divide(Add(ho, hc), Literal(2.0)))
      Seq(posN, haOpen, haClose, h, l)
    }
    override lazy val evaluateExpression: Expression =
      CreateNamedStruct(Seq(
        Literal("ha_open"), ho,
        Literal("ha_high"), Greatest(Seq(bh, Greatest(Seq(ho, hc)))),
        Literal("ha_low"), Least(Seq(bl, Least(Seq(ho, hc)))),
        Literal("ha_close"), hc
      ))
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): HaFold =
      copy(o = c0(0), h = c0(1), l = c0(2), c = c0(3))
  }

  /** McGinley Dynamic (RecKernels.Mcgd): y₀ = x₀; y += (x−y)/(n·(x/y)⁴),
    * y = 0 and null inputs hold state (null output until seeded). */
  case class McgdFold(x: Expression, n: Int) extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(x)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_mcgd_k"

    private lazy val started = AttributeReference("mcgdStarted", BooleanType, nullable = false)()
    private lazy val y = AttributeReference("mcgdY", DoubleType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] = Seq(started, y)
    override val initialValues: Seq[Expression] = Seq(Literal(false), Literal(0.0))
    override lazy val updateExpressions: Seq[Expression] = {
      val r = Divide(x, y)
      // kernel: y + (x − y) / (n·r·r·r·r), left-assoc products
      val den = Multiply(Multiply(Multiply(Multiply(Literal(n.toDouble), r), r), r), r)
      val d0 = Subtract(x, y)
      // the kernel divides Scala doubles, where d/0 is ±Inf and 0/0 is
      // NaN; Catalyst's ANSI Divide would throw instead, so the
      // zero-denominator case replicates IEEE explicitly (den ≥ 0 —
      // it is n·r⁴ — so only the +0 signs arise; x = 0 prices hit this)
      val q = If(EqualTo(den, Literal(0.0)),
        If(GreaterThan(d0, Literal(0.0)), Literal(Double.PositiveInfinity),
          If(LessThan(d0, Literal(0.0)), Literal(Double.NegativeInfinity), Literal(Double.NaN))),
        Divide(d0, den))
      val stepped = Add(y, q)
      val yN = If(IsNull(x), y,
        If(Not(started), x, If(Not(EqualTo(y, Literal(0.0))), stepped, y)))
      Seq(Or(started, IsNotNull(x)), yN)
    }
    override lazy val evaluateExpression: Expression = If(started, y, nullD)
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): McgdFold =
      copy(x = c0(0))
  }

  /** Ehlers 2-pole super smoother (RecKernels.Ssf): y = c1·x + c2·y' + c3·y'',
    * seeds y₀=x₀, y₁=x₁; null inputs emit the running value. */
  case class SsfFold(x: Expression, n: Int) extends AggregateWindowFunction {
    private val a = math.exp(-math.sqrt(2.0) * math.Pi / n)
    private val b = 2.0 * a * math.cos(math.sqrt(2.0) * math.Pi / n)
    private val c2 = b
    private val c3 = -a * a
    private val c1 = 1.0 - c2 - c3
    override def children: Seq[Expression] = Seq(x)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_ssf_k"

    private lazy val cnt = AttributeReference("ssfCnt", LongType, nullable = false)()
    private lazy val y1 = AttributeReference("ssfY1", DoubleType, nullable = false)()
    private lazy val y2 = AttributeReference("ssfY2", DoubleType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] = Seq(cnt, y1, y2)
    override val initialValues: Seq[Expression] = Seq(Literal(0L), Literal(0.0), Literal(0.0))
    override lazy val updateExpressions: Seq[Expression] = {
      val cN = Add(cnt, Literal(1L))
      val yNew = If(LessThanOrEqual(cN, Literal(2L)), x,
        Add(Add(Multiply(Literal(c1), x), Multiply(Literal(c2), y1)), Multiply(Literal(c3), y2)))
      Seq(
        If(IsNull(x), cnt, cN),
        If(IsNull(x), y1, yNew),
        If(IsNull(x), y2, y1)
      )
    }
    override lazy val evaluateExpression: Expression =
      If(GreaterThan(cnt, Literal(0L)), y1, nullD)
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): SsfFold =
      copy(x = c0(0))
  }

  /** Holt-Winter MA (RecKernels.Hwma): F/V/A recursion, F₀ = x₀. */
  case class HwmaFold(x: Expression, na: Double, nb: Double, nc: Double)
      extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(x)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_hwma_k"

    private lazy val started = AttributeReference("hwmaStarted", BooleanType, nullable = false)()
    private lazy val fS = AttributeReference("hwmaF", DoubleType, nullable = false)()
    private lazy val vS = AttributeReference("hwmaV", DoubleType, nullable = false)()
    private lazy val aS = AttributeReference("hwmaA", DoubleType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] = Seq(started, fS, vS, aS)
    override val initialValues: Seq[Expression] =
      Seq(Literal(false), Literal(0.0), Literal(0.0), Literal(0.0))
    override lazy val updateExpressions: Seq[Expression] = {
      val fN = Add(
        Multiply(Literal(1.0 - na), Add(Add(fS, vS), Multiply(Literal(0.5), aS))),
        Multiply(Literal(na), x))
      val vN = Add(
        Multiply(Literal(1.0 - nb), Add(vS, aS)),
        Multiply(Literal(nb), Subtract(fN, fS)))
      val aN = Add(
        Multiply(Literal(1.0 - nc), aS),
        Multiply(Literal(nc), Subtract(vN, vS)))
      val skip = IsNull(x)
      Seq(
        Or(started, IsNotNull(x)),
        If(skip, fS, If(Not(started), x, fN)),
        If(skip, vS, If(Not(started), Literal(0.0), vN)),
        If(skip, aS, If(Not(started), Literal(0.0), aN))
      )
    }
    override lazy val evaluateExpression: Expression =
      If(started, Add(Add(fS, vS), Multiply(Literal(0.5), aS)), nullD)
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): HwmaFold =
      copy(x = c0(0))
  }

  /** 1-D local-level Kalman filter (RecKernels.Kalman) — STRUCT(kf, kf_gain).
    * Seed x₀ = z₀, P₀ = 1 (gain null on the seed row); null z emits the
    * running level with null gain, state unchanged. */
  case class KalmanFold(z: Expression, q: Double, rNoise: Double)
      extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(z)
    override def dataType: DataType = StructType(Seq(
      StructField("kf", DoubleType),
      StructField("kf_gain", DoubleType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_kalman_k"

    private lazy val started = AttributeReference("kfStarted", BooleanType, nullable = false)()
    private lazy val xS = AttributeReference("kfX", DoubleType, nullable = false)()
    private lazy val pS = AttributeReference("kfP", DoubleType, nullable = false)()
    private lazy val gS = AttributeReference("kfG", DoubleType, nullable = true)()
    override def aggBufferAttributes: Seq[AttributeReference] = Seq(started, xS, pS, gS)
    override val initialValues: Seq[Expression] =
      Seq(Literal(false), Literal(0.0), Literal(0.0), nullD)
    override lazy val updateExpressions: Seq[Expression] = {
      val pp = Add(pS, Literal(q))
      val k0 = Divide(pp, Add(pp, Literal(rNoise)))
      val xN = Add(xS, Multiply(k0, Subtract(z, xS)))
      val pN = Multiply(Subtract(Literal(1.0), k0), pp)
      val skip = IsNull(z)
      Seq(
        Or(started, IsNotNull(z)),
        If(skip, xS, If(Not(started), z, xN)),
        If(skip, pS, If(Not(started), Literal(1.0), pN)),
        If(skip, nullD, If(Not(started), nullD, k0))
      )
    }
    override lazy val evaluateExpression: Expression =
      CreateNamedStruct(Seq(
        Literal("kf"), If(started, xS, nullD),
        Literal("kf_gain"), gS
      ))
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): KalmanFold =
      copy(z = c0(0))
  }

  /** Ehlers Even Better SineWave (RecKernels.Ebsw): 1-pole HP → 2-pole super
    * smoother → 3-bar wave/power normalization; the per-row output uses
    * the PRE-shift filter history, so it rides its own buffer slot. */
  case class EbswFold(c: Expression, n: Int, bars: Int) extends AggregateWindowFunction {
    private val alpha1 = (1.0 - math.sin(2.0 * math.Pi / n)) / math.cos(2.0 * math.Pi / n)
    private val a1 = math.exp(-math.sqrt(2.0) * math.Pi / bars)
    private val b1 = 2.0 * a1 * math.cos(math.sqrt(2.0) * math.Pi / bars)
    private val c2 = b1
    private val c3 = -a1 * a1
    private val c1 = 1.0 - c2 - c3
    override def children: Seq[Expression] = Seq(c)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_ebsw_k"

    private lazy val cnt = AttributeReference("ebswCnt", LongType, nullable = false)()
    private lazy val pc = AttributeReference("ebswPc", DoubleType, nullable = false)()
    private lazy val hp1 = AttributeReference("ebswHp1", DoubleType, nullable = false)()
    private lazy val f1 = AttributeReference("ebswF1", DoubleType, nullable = false)()
    private lazy val f2 = AttributeReference("ebswF2", DoubleType, nullable = false)()
    private lazy val out = AttributeReference("ebswOut", DoubleType, nullable = true)()
    override def aggBufferAttributes: Seq[AttributeReference] =
      Seq(cnt, pc, hp1, f1, f2, out)
    override val initialValues: Seq[Expression] =
      Seq(Literal(0L), Literal(0.0), Literal(0.0), Literal(0.0), Literal(0.0), nullD)
    override lazy val updateExpressions: Seq[Expression] = {
      val cN = Add(cnt, Literal(1L))
      val isRow1 = EqualTo(cN, Literal(1L))
      val hp = Add(
        Multiply(Multiply(Literal(0.5), Literal(1.0 + alpha1)), Subtract(c, pc)),
        Multiply(Literal(alpha1), hp1))
      // kernel: c1 * (hp + hp1) / 2.0 + … — left-assoc: (c1·(hp+hp1))/2
      val filt = Add(
        Add(Divide(Multiply(Literal(c1), Add(hp, hp1)), Literal(2.0)), Multiply(Literal(c2), f1)),
        Multiply(Literal(c3), f2))
      val wave = Divide(Add(Add(filt, f1), f2), Literal(3.0))
      val pwr = Divide(
        Add(Add(Multiply(filt, filt), Multiply(f1, f1)), Multiply(f2, f2)),
        Literal(3.0))
      val outN = If(LessThanOrEqual(cN, Literal(3L)), nullD,
        If(GreaterThan(pwr, Literal(0.0)), Divide(wave, Sqrt(pwr)), nullD))
      Seq(
        cN,
        c,
        If(isRow1, hp1, hp),
        If(isRow1, f1, filt),
        If(isRow1, f2, f1),
        If(isRow1, nullD, outN)
      )
    }
    override lazy val evaluateExpression: Expression = out
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): EbswFold =
      copy(c = c0(0))
  }

  /** Holt-Winter channel (RecKernels.Hwc) — STRUCT(hwc_mid, hwc_upper,
    * hwc_lower): the hwma F/V/A recursion plus the variance recursion
    * var = (1−nd)·var' + nd·(x − hwma')²; after the update prevHwma IS
    * the current mid, so evaluate reads straight from the buffer. */
  case class HwcFold(x: Expression, na: Double, nb: Double, nc: Double,
      nd: Double, k: Double)
      extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(x)
    override def dataType: DataType = StructType(Seq(
      StructField("hwc_mid", DoubleType),
      StructField("hwc_upper", DoubleType),
      StructField("hwc_lower", DoubleType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_hwc_k"

    private lazy val started = AttributeReference("hwcStarted", BooleanType, nullable = false)()
    private lazy val fS = AttributeReference("hwcF", DoubleType, nullable = false)()
    private lazy val vS = AttributeReference("hwcV", DoubleType, nullable = false)()
    private lazy val aS = AttributeReference("hwcA", DoubleType, nullable = false)()
    private lazy val varS = AttributeReference("hwcVar", DoubleType, nullable = false)()
    private lazy val ph = AttributeReference("hwcPrevH", DoubleType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] =
      Seq(started, fS, vS, aS, varS, ph)
    override val initialValues: Seq[Expression] =
      Seq(Literal(false), Literal(0.0), Literal(0.0), Literal(0.0), Literal(0.0), Literal(0.0))
    override lazy val updateExpressions: Seq[Expression] = {
      val fN = Add(
        Multiply(Literal(1.0 - na), Add(Add(fS, vS), Multiply(Literal(0.5), aS))),
        Multiply(Literal(na), x))
      val vN = Add(
        Multiply(Literal(1.0 - nb), Add(vS, aS)),
        Multiply(Literal(nb), Subtract(fN, fS)))
      val aN = Add(
        Multiply(Literal(1.0 - nc), aS),
        Multiply(Literal(nc), Subtract(vN, vS)))
      val hwma = Add(Add(fN, vN), Multiply(Literal(0.5), aN))
      // kernel: nd * (x − ph) * (x − ph) — left-assoc: ((nd·d)·d)
      val varN = Add(
        Multiply(Literal(1.0 - nd), varS),
        Multiply(Multiply(Literal(nd), Subtract(x, ph)), Subtract(x, ph)))
      Seq(
        Literal(true),
        If(Not(started), x, fN),
        If(Not(started), Literal(0.0), vN),
        If(Not(started), Literal(0.0), aN),
        If(Not(started), Literal(0.0), varN),
        // first row: prevHwma = f + v + 0.5a = x
        If(Not(started), x, hwma)
      )
    }
    override lazy val evaluateExpression: Expression = {
      val sd = Sqrt(varS)
      CreateNamedStruct(Seq(
        Literal("hwc_mid"), ph,
        Literal("hwc_upper"), Add(ph, Multiply(Literal(k), sd)),
        Literal("hwc_lower"), Subtract(ph, Multiply(Literal(k), sd))
      ))
    }
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): HwcFold =
      copy(x = c0(0))
  }

  /** TD Sequential setup counters (RecKernels.TdSeq) — STRUCT(td_seq_up,
    * td_seq_dn). Self-contained: the close[4] lag rides four shift
    * slots instead of a staged column, so the fold needs only `close`. */
  case class TdSeqFold(c: Expression) extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(c)
    override def dataType: DataType = StructType(Seq(
      StructField("td_seq_up", LongType),
      StructField("td_seq_dn", LongType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_td_seq_k"

    private lazy val p1 = AttributeReference("tdP1", DoubleType, nullable = true)()
    private lazy val p2 = AttributeReference("tdP2", DoubleType, nullable = true)()
    private lazy val p3 = AttributeReference("tdP3", DoubleType, nullable = true)()
    private lazy val p4 = AttributeReference("tdP4", DoubleType, nullable = true)()
    private lazy val up = AttributeReference("tdUp", LongType, nullable = false)()
    private lazy val dn = AttributeReference("tdDn", LongType, nullable = false)()
    private lazy val valid = AttributeReference("tdValid", BooleanType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] =
      Seq(p1, p2, p3, p4, up, dn, valid)
    override val initialValues: Seq[Expression] =
      Seq(nullD, nullD, nullD, nullD, Literal(0L), Literal(0L), Literal(false))
    override lazy val updateExpressions: Seq[Expression] = {
      val c4 = p4 // lag(close, 4) at this row
      val skip = IsNull(c4)
      val upN = If(GreaterThan(c, c4),
        If(EqualTo(up, Literal(9L)), Literal(1L), Add(up, Literal(1L))), Literal(0L))
      val dnN = If(LessThan(c, c4),
        If(EqualTo(dn, Literal(9L)), Literal(1L), Add(dn, Literal(1L))), Literal(0L))
      Seq(
        c, p1, p2, p3,
        If(skip, up, upN),
        If(skip, dn, dnN),
        Not(skip)
      )
    }
    override lazy val evaluateExpression: Expression = {
      val nullL = Literal.create(null, LongType)
      CreateNamedStruct(Seq(
        Literal("td_seq_up"), If(valid, up, nullL),
        Literal("td_seq_dn"), If(valid, dn, nullL)
      ))
    }
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): TdSeqFold =
      copy(c = c0(0))
  }

  /** Jurik RSX (RecKernels.Rsx): not a ring buffer after all — the three-stage
    * cascade is twelve NAMED filter slots plus the prev-momentum slot,
    * all O(1), so it folds like everything else. v14/v20 derive from the
    * post-update slots at evaluate. */
  case class RsxFold(c: Expression, n: Int) extends AggregateWindowFunction {
    private val f18 = 3.0 / (n + 2.0)
    private val f20 = 1.0 - f18
    override def children: Seq[Expression] = Seq(c)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_rsx_k"

    private lazy val cnt = AttributeReference("rsxCnt", LongType, nullable = false)()
    private lazy val f8p = AttributeReference("rsxF8p", DoubleType, nullable = false)()
    private lazy val fs =
      Seq("f28", "f30", "f38", "f40", "f48", "f50", "f58", "f60", "f68", "f70", "f78", "f80")
        .map(s => AttributeReference(s"rsx${s.capitalize}", DoubleType, nullable = false)())
    override def aggBufferAttributes: Seq[AttributeReference] = Seq(cnt, f8p) ++ fs
    override val initialValues: Seq[Expression] =
      Seq(Literal(0L), Literal(0.0)) ++ fs.map(_ => Literal(0.0): Expression)
    private def lp(prev: Expression, in: Expression): Expression =
      Add(Multiply(Literal(f20), prev), Multiply(Literal(f18), in))
    private def hp(stage1: Expression, prev: Expression): Expression =
      Add(Multiply(Literal(f18), stage1), Multiply(Literal(f20), prev))
    private def mix(a: Expression, b: Expression): Expression =
      Subtract(Multiply(Literal(1.5), a), Multiply(Literal(0.5), b))
    override lazy val updateExpressions: Seq[Expression] = {
      val Seq(f28, f30, f38, f40, f48, f50, f58, f60, f68, f70, f78, f80) =
        fs.map(a => a: Expression)
      val f8 = Multiply(Literal(100.0), c)
      val cN = Add(cnt, Literal(1L))
      val isRow1 = EqualTo(cN, Literal(1L))
      val v8 = Subtract(f8, f8p)
      val f28N = lp(f28, v8); val f30N = hp(f28N, f30)
      val vC = mix(f28N, f30N)
      val f38N = lp(f38, vC); val f40N = hp(f38N, f40)
      val v10 = mix(f38N, f40N)
      val f48N = lp(f48, v10); val f50N = hp(f48N, f50)
      val a8 = Abs(v8)
      val f58N = lp(f58, a8); val f60N = hp(f58N, f60)
      val vD = mix(f58N, f60N)
      val f68N = lp(f68, vD); val f70N = hp(f68N, f70)
      val v18 = mix(f68N, f70N)
      val f78N = lp(f78, v18); val f80N = hp(f78N, f80)
      def g(e: Expression, old: Expression) = If(isRow1, old, e)
      Seq(cN, f8) ++ Seq(
        g(f28N, f28), g(f30N, f30), g(f38N, f38), g(f40N, f40), g(f48N, f48), g(f50N, f50),
        g(f58N, f58), g(f60N, f60), g(f68N, f68), g(f70N, f70), g(f78N, f78), g(f80N, f80)
      )
    }
    override lazy val evaluateExpression: Expression = {
      val Seq(_, _, _, _, f48, f50, _, _, _, _, f78, f80) = fs.map(a => a: Expression)
      val v14 = mix(f48, f50)
      val v20 = mix(f78, f80)
      // kernel: 100.0 * (v14 / v20 + 1.0) / 2.0 — left-assoc: (100·x)/2
      val raw = Divide(
        Multiply(Literal(100.0), Add(Divide(v14, v20), Literal(1.0))), Literal(2.0))
      val clamped = Greatest(Seq(Literal(0.0), Least(Seq(Literal(100.0), raw))))
      If(LessThanOrEqual(cnt, Literal((n + 1).toLong)), nullD,
        If(EqualTo(v20, Literal(0.0)), Literal(50.0), clamped))
    }
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): RsxFold =
      copy(c = c0(0))
  }

  // ==================================================================
  // Round-9 wave 3: the STAGED-INPUT state machines (hilo, fisher,
  // qqe). Their window-derived inputs (rolling means, the fisher range
  // position, qqe's smoothed-RSI/DAR chain) stay as staged columns —
  // a window expression can't nest inside another window expression —
  // but the per-row recursion consuming them folds like everything
  // else, so the mapPartitions pass (and its re-repartition) goes
  // away. After this wave only jma (ring buffers) and cusum
  // (broadcast stats join) use rec.perSeries.
  // ==================================================================

  /** Gann HiLo activator (RecKernels.Hilo) — STRUCT(hilo, hilo_long,
    * hilo_short). Children: close + the staged sma(high,hn)/sma(low,ln)
    * columns. Trend flips on the PREVIOUS row's bands; output uses the
    * CURRENT bands, which after the update are exactly the pmh/pml
    * slots. */
  case class HiloFold(c: Expression, mh: Expression, ml: Expression)
      extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(c, mh, ml)
    override def dataType: DataType = StructType(Seq(
      StructField("hilo", DoubleType),
      StructField("hilo_long", DoubleType),
      StructField("hilo_short", DoubleType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_hilo_k"

    private lazy val trend = AttributeReference("hiloTrend", IntegerType, nullable = false)()
    private lazy val pmh = AttributeReference("hiloPmh", DoubleType, nullable = true)()
    private lazy val pml = AttributeReference("hiloPml", DoubleType, nullable = true)()
    private lazy val valid = AttributeReference("hiloValid", BooleanType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] = Seq(trend, pmh, pml, valid)
    override val initialValues: Seq[Expression] =
      Seq(Literal(0), nullD, nullD, Literal(false))
    override lazy val updateExpressions: Seq[Expression] = {
      val prevNull = Or(IsNull(pmh), IsNull(pml))
      val trendN = If(prevNull, trend,
        If(GreaterThan(c, pmh), Literal(1),
          If(LessThan(c, pml), Literal(-1), trend)))
      Seq(trendN, mh, ml, Not(prevNull))
    }
    override lazy val evaluateExpression: Expression = {
      val isUp = EqualTo(trend, Literal(1))
      val isDn = EqualTo(trend, Literal(-1))
      val live = And(valid, Not(EqualTo(trend, Literal(0))))
      CreateNamedStruct(Seq(
        Literal("hilo"), If(live, If(isUp, pml, pmh), nullD),
        Literal("hilo_long"), If(And(valid, isUp), pml, nullD),
        Literal("hilo_short"), If(And(valid, isDn), pmh, nullD)
      ))
    }
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): HiloFold =
      copy(c = c0(0), mh = c0(1), ml = c0(2))
  }

  /** Fisher transform recursion (RecKernels.Fisher) — STRUCT(fisher, signal).
    * Child: the staged range-position column (null during warm-up holds
    * state and emits nulls). Outputs ride buffer slots because the
    * signal is the PRE-update fisher value. */
  case class FisherFold(pos: Expression) extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(pos)
    override def dataType: DataType = StructType(Seq(
      StructField("fisher", DoubleType),
      StructField("signal", DoubleType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_fisher_k"

    private lazy val v = AttributeReference("fishV", DoubleType, nullable = false)()
    private lazy val fish = AttributeReference("fishF", DoubleType, nullable = false)()
    private lazy val have = AttributeReference("fishHave", BooleanType, nullable = false)()
    private lazy val outF = AttributeReference("fishOutF", DoubleType, nullable = true)()
    private lazy val outS = AttributeReference("fishOutS", DoubleType, nullable = true)()
    override def aggBufferAttributes: Seq[AttributeReference] = Seq(v, fish, have, outF, outS)
    override val initialValues: Seq[Expression] =
      Seq(Literal(0.0), Literal(0.0), Literal(false), nullD, nullD)
    override lazy val updateExpressions: Seq[Expression] = {
      val nvRaw = Add(Multiply(Literal(0.66), pos), Multiply(Literal(0.67), v))
      val nv = If(GreaterThan(nvRaw, Literal(0.999)), Literal(0.999),
        If(LessThan(nvRaw, Literal(-0.999)), Literal(-0.999), nvRaw))
      val nf = Add(
        Multiply(Literal(0.5),
          Log(Divide(Add(Literal(1.0), nv), Subtract(Literal(1.0), nv)))),
        Multiply(Literal(0.5), fish))
      val skip = IsNull(pos)
      Seq(
        If(skip, v, nv),
        If(skip, fish, nf),
        Or(have, IsNotNull(pos)),
        If(skip, nullD, nf),
        If(skip, nullD, If(have, fish, nullD))
      )
    }
    override lazy val evaluateExpression: Expression =
      CreateNamedStruct(Seq(Literal("fisher"), outF, Literal("signal"), outS))
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): FisherFold =
      copy(pos = c0(0))
  }

  /** QQE trailing bands (RecKernels.Qqe) — STRUCT(qqe, trend, long, short).
    * Children: the staged smoothed-RSI (__rsima) and DAR (__dar)
    * columns. Band carry and trend flip read the PREVIOUS state; the
    * outputs are exactly the post-update slots. */
  case class QqeFold(r: Expression, dar: Expression) extends AggregateWindowFunction {
    override def children: Seq[Expression] = Seq(r, dar)
    override def dataType: DataType = StructType(Seq(
      StructField("qqe", DoubleType),
      StructField("trend", IntegerType),
      StructField("long", DoubleType),
      StructField("short", DoubleType)
    ))
    override def nullable: Boolean = false
    override def prettyName: String = "graft_qqe_k"

    private lazy val have = AttributeReference("qqeHave", BooleanType, nullable = false)()
    private lazy val pr = AttributeReference("qqePr", DoubleType, nullable = false)()
    private lazy val plb = AttributeReference("qqePlb", DoubleType, nullable = false)()
    private lazy val psb = AttributeReference("qqePsb", DoubleType, nullable = false)()
    private lazy val trend = AttributeReference("qqeTrend", IntegerType, nullable = false)()
    private lazy val valid = AttributeReference("qqeValid", BooleanType, nullable = false)()
    override def aggBufferAttributes: Seq[AttributeReference] =
      Seq(have, pr, plb, psb, trend, valid)
    override val initialValues: Seq[Expression] =
      Seq(Literal(false), Literal(0.0), Literal(0.0), Literal(0.0), Literal(1), Literal(false))
    override lazy val updateExpressions: Seq[Expression] = {
      val skip = Or(IsNull(r), IsNull(dar))
      val nl = Subtract(r, dar)
      val ns = Add(r, dar)
      val lb = If(And(GreaterThan(pr, plb), GreaterThan(r, plb)), Greatest(Seq(plb, nl)), nl)
      val sb = If(And(LessThan(pr, psb), LessThan(r, psb)), Least(Seq(psb, ns)), ns)
      val trendN = If(And(GreaterThan(r, psb), LessThanOrEqual(pr, psb)), Literal(1),
        If(And(LessThan(r, plb), GreaterThanOrEqual(pr, plb)), Literal(-1), trend))
      Seq(
        Or(have, Not(skip)),
        If(skip, pr, r),
        If(skip, plb, If(Not(have), nl, lb)),
        If(skip, psb, If(Not(have), ns, sb)),
        If(skip, trend, If(Not(have), Literal(1), trendN)),
        Not(skip)
      )
    }
    override lazy val evaluateExpression: Expression = {
      val nullI = Literal.create(null, IntegerType)
      val isUp = EqualTo(trend, Literal(1))
      CreateNamedStruct(Seq(
        Literal("qqe"), If(valid, If(isUp, plb, psb), nullD),
        Literal("trend"), If(valid, trend, nullI),
        Literal("long"), If(valid, plb, nullD),
        Literal("short"), If(valid, psb, nullD)
      ))
    }
    override protected def withNewChildrenInternal(c0: IndexedSeq[Expression]): QqeFold =
      copy(r = c0(0), dar = c0(1))
  }
}
