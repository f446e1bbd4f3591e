package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.E / §7 phase 6).
  *
  * The reference is batch-only; this extension makes every non-lookahead
  * indicator streamable:
  *  - bar construction = tumbling event-time window + watermark;
  *  - causal indicators = `flatMapGroupsWithState` keyed by series_id,
  *    each evaluating its own batch plan one tick at a time (PlanStage),
  *    so streaming output ≡ batch output row-for-row (StreamingKernelSpec);
  *  - exact dedup = `dropDuplicates` on the content hash with watermark.
  *
  * Lookahead ops (ichimoku forward spans, centered dpo, negative offset)
  * are excluded — they need future rows by definition.
  *
  * Scale notes: state is bytes per key (not per row); watermark bounds the
  * bar-window state; shuffle is one hash exchange per stateful stage — the
  * same key layout as batch, so a 1000-executor cluster partitions
  * identically.
  */
object StreamingTa {

  /** Event row after ingestion (ts = epoch micros). */
  case class Tick(series_id: String, ts: Long, close: Double)

  // ---------------------------------------------------- idle-series TTL
  /** Conf-pinnable idle-series TTL for every TA state stream (round-12
    * verdict item #1): `spark.graft.stream.idleTtl` = a duration ("30m",
    * "12h", "500ms", or plain millis; default 0 = off, today's
    * NoTimeout semantics exactly). With a TTL, a series that receives no
    * ticks for that long has its ENTIRE state entry removed from the
    * store — the bound on state growth under key churn (delisted
    * instruments, session-scoped ids) that NoTimeout cannot give at
    * 100× scale; RocksDB moves unbounded state off-heap but only a TTL
    * bounds it.
    *
    * Contract of an eviction (StreamingIdleTtlSpec):
    *  - the series' kernel/stage state AND its in-order watermark
    *    (`lastTs`) are gone: if the series later resumes, it is a FRESH
    *    series — warm-up restarts, and ticks with ts ≤ the evicted
    *    lastTs are folded, not dropped (exactly like a brand-new key;
    *    an idle gap longer than the TTL is the operator's declaration
    *    that history before it no longer matters);
    *  - for the latency-K lookahead streams ([[ichimokuStream]] /
    *    [[dpoCenteredStream]] / mixed [[strategyStream]]) the evicted
    *    series' pending tail rows never emit — the same rows batch
    *    leaves lookahead-null at a frame tail;
    *  - idleness is PROCESSING time (no data arriving), the honest
    *    definition for a feed that stopped — event-time idleness is
    *    undefined exactly when a series stops ticking. The timer arms
    *    when a series is first SEEN by the stream; a warm-started
    *    series ([[strategyStreamWarm]]) that never ticks live is never
    *    invoked, so it holds state until its first live tick arms the
    *    timer (drain-and-rebootstrap if that matters for a redeploy).
    *
    * Runtime note: with the TTL on, the micro-batch engine constructs a
    * batch EVERY trigger interval even with no data — that is how
    * processing-time timeouts fire — so set a real trigger interval in
    * production (the default 0 ms busy-loops), and test harnesses must
    * poll the sink instead of processAllAvailable (which waits for a
    * noNewData signal that never comes; same gotcha as
    * [[topkIvfStream]]'s dedupTtl, see StreamingIdleTtlSpec). */
  private[graft] def idleTtlMs(spark: SparkSession): Long = {
    val raw = spark.conf.get("spark.graft.stream.idleTtl", "0")
    val ms = org.apache.spark.network.util.JavaUtils.timeStringAsMs(raw)
    require(ms >= 0, s"spark.graft.stream.idleTtl must be >= 0, got '$raw'")
    ms
  }

  private def idleTimeout(ttlMs: Long): GroupStateTimeout =
    if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()

  /** Wrap a stateful step with the idle-TTL protocol: on timeout remove
    * the state entry and emit nothing; on data, run the step and re-arm
    * the timer (sliding — each arrival restarts the clock; dedup-stream
    * precedent at [[topkIvfStream]]). With the TTL off this is the step
    * itself: zero behavior change. */
  private def withIdleTtl[K, T, S, U](ttlMs: Long)(
      step: (K, Iterator[T], GroupState[S]) => Iterator[U]
  ): (K, Iterator[T], GroupState[S]) => Iterator[U] =
    if (ttlMs <= 0) step
    else
      (key: K, rows: Iterator[T], gs: GroupState[S]) =>
        if (gs.hasTimedOut) { gs.remove(); Iterator.empty }
        else {
          // every step in this file drains `rows` and calls gs.update
          // before returning, so arming here covers the whole batch —
          // ENFORCED: a future step that returned a lazy iterator over
          // un-drained input would silently arm the timer before folding
          // (r12 verdict note); fail loudly instead
          val out = step(key, rows, gs)
          require(
            !rows.hasNext,
            "idle-TTL step contract: the step function must drain its input iterator " +
              "and update state BEFORE returning (the timer arms after the step)")
          if (gs.exists) gs.setTimeoutDuration(ttlMs)
          out
        }

  /** Streaming OHLCV bars from an event stream with event-time tstamp.
    * Append-mode compatible: bars emit once the watermark passes the day.
    * open/close = value at min/max event ts (unique-ts contract Q01). */
  def barsStream(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("tstamp", watermark)
      .groupBy(window(col("tstamp"), "1 day").as("w"))
      .agg(
        min_by(col("value"), col("ts_us")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts_us")).as("close"),
        count(lit(1)).cast("double").as("volume")
      )
      .select(
        lit("ALL").as("series_id"),
        col("w.start").cast("date").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )

  /** Per-key recurrence state for the streaming indicator kernel: exactly
    * the batch semantics of stage.ema (sma-seeded ema), prim.rmaOf
    * (Wilder), and rsi (rma of up/down moves). */
  case class IndState(
      n: Long, // rows seen
      seedSum: Double, // running sum of first `len` closes (ema seed)
      ema: Double, hasEma: Boolean,
      rma: Double, rmaCount: Long,
      prevClose: Double, hasPrev: Boolean,
      upRma: Double, dnRma: Double, moveCount: Long
  )

  case class IndOut(
      series_id: String, ts: Long, close: Double,
      ema_10: Option[Double], rma_10: Option[Double], rsi_10: Option[Double]
  )

  /** Streaming ema/rma/rsi(len) over ticks. REQUIRES per-key event-time
    * order across micro-batches (in-order source or replayed log; within a
    * batch rows are sorted here). For the general engine with the contract
    * ENFORCED (late ticks detected and dropped/failed per policy) use
    * [[kernelBatchStream]]/[[strategyStream]]. This is the streaming twin of
    * the batch window pipeline — parity is asserted in StreamingParitySpec. */
  def indicators(ticks: Dataset[Tick], len: Int = 10): Dataset[IndOut] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val alpha = 2.0 / (len + 1)
    val wAlpha = 1.0 / len

    def step(key: String, rows: Iterator[Tick], gs: GroupState[IndState]): Iterator[IndOut] = {
      var st = gs.getOption.getOrElse(IndState(0L, 0.0, 0.0, false, 0.0, 0L, 0.0, false, 0.0, 0.0, 0L))
      val out = rows.toSeq.sortBy(_.ts).map { t =>
        val n1 = st.n + 1
        // --- sma-seeded ema (stage.ema): rows 1..len-1 null; row len seeds
        val seedSum = if (st.n < len) st.seedSum + t.close else st.seedSum
        var ema = st.ema; var hasEma = st.hasEma
        if (n1 == len) { ema = seedSum / len; hasEma = true }
        else if (n1 > len) { ema = (1.0 - alpha) * ema + alpha * t.close }
        // --- Wilder rma (prim.rmaOf): seed first value, mask till len obs
        val rma = if (st.rmaCount == 0L) t.close else (1.0 - wAlpha) * st.rma + wAlpha * t.close
        val rmaCount = st.rmaCount + 1
        // --- rsi: rma of up/down moves, first diff at row 2
        var upR = st.upRma; var dnR = st.dnRma; var mc = st.moveCount
        if (st.hasPrev) {
          val d = t.close - st.prevClose
          val up = math.max(d, 0.0); val dn = math.max(-d, 0.0)
          if (mc == 0L) { upR = up; dnR = dn } else {
            upR = (1.0 - wAlpha) * upR + wAlpha * up
            dnR = (1.0 - wAlpha) * dnR + wAlpha * dn
          }
          mc += 1
        }
        st = IndState(n1, seedSum, ema, hasEma, rma, rmaCount, t.close, true, upR, dnR, mc)
        IndOut(
          key, t.ts, t.close,
          if (hasEma) Some(ema) else None,
          if (rmaCount >= len) Some(rma) else None,
          if (mc >= len) {
            val s = upR + dnR
            if (s == 0.0) None else Some(100.0 * upR / s)
          } else None
        )
      }
      gs.update(st)
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    ticks
      .groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), idleTimeout(ttl))(withIdleTtl(ttl)(step))
  }

  /** OHLCV tick for kernel streaming. */
  case class BarTick(
      series_id: String, ts: Long,
      open: Double, high: Double, low: Double, close: Double, volume: Double
  )

  case class KernelOut(series_id: String, ts: Long, values: Seq[Option[Double]])

  private val barSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("series_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("open", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("high", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("low", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("close", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("volume", org.apache.spark.sql.types.DoubleType)
    )
  )

  /** Stream ANY REC kernel (graft.ta.rec.Kernel) over an OHLCV tick
    * stream: the kernel object itself IS the per-key state
    * (kryo-serialized between micro-batches; CLASS-COUPLED: editing a
    * kernel class invalidates checkpoints), so streaming output ≡ the
    * batch rec.perSeries pass row-for-row.
    * Same per-key in-order requirement as `indicators`; for the enforced
    * late-tick contract use [[kernelBatchStream]] with one spec. */
  def kernelStream(
      ticks: Dataset[BarTick],
      make: () => graft.ta.rec.Kernel
  ): Dataset[KernelOut] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    implicit val kernelEnc: org.apache.spark.sql.Encoder[graft.ta.rec.Kernel] =
      org.apache.spark.sql.Encoders.kryo[graft.ta.rec.Kernel]

    def step(
        key: String,
        rows: Iterator[BarTick],
        gs: GroupState[graft.ta.rec.Kernel]
    ): Iterator[KernelOut] = {
      val kernel = gs.getOption.getOrElse {
        val k = make()
        k.init(barSchema)
        k.reset()
        k
      }
      val out = rows.toSeq.sortBy(_.ts).map { t =>
        val row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          Array[Any](t.series_id, t.ts, t.open, t.high, t.low, t.close, t.volume),
          barSchema
        )
        // KernelOut carries Option[Double] — numeric kernel outputs only
        // (every REC kernel emits Double/Long/Int; booleans map to 0/1).
        // A kernel with a genuinely non-numeric output column needs the
        // typed kernelBatchStream path instead — fail loudly, don't parse.
        val vals = kernel.update(row).map {
          case null => None
          case d: Double => Some(d)
          case i: Int => Some(i.toDouble)
          case l: Long => Some(l.toDouble)
          case b: Boolean => Some(if (b) 1.0 else 0.0)
          case other =>
            throw new IllegalArgumentException(
              s"kernelStream supports numeric outputs only; got ${other.getClass.getSimpleName} — use kernelBatchStream"
            )
        }
        KernelOut(key, t.ts, vals.toSeq)
      }
      gs.update(kernel)
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    ticks
      .groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), idleTimeout(ttl))(withIdleTtl(ttl)(step))
  }

  // ------------------------------------------------------ streaming stages
  private def dblField(name: String) =
    org.apache.spark.sql.types.StructField(name, org.apache.spark.sql.types.DoubleType, nullable = true)

  /** Per-series state machine of one streamed spec: folds a tick and
    * returns that tick's output values, in the spec's declared types. */
  trait StreamStage extends Serializable {
    def update(t: BarTick): Array[Any]
    /** Re-attach evaluator machinery a stage deliberately keeps OUT of the
      * per-series state (marked @transient — e.g. [[PlanStage]]'s compiled
      * program, identical for every series). Called once per series per
      * micro-batch with a factory for a fully-armed instance; no-op for
      * stages whose fields all serialize. */
    def rearm(fresh: () => StreamStage): Unit = ()
  }

  /** A REC kernel behind the stage interface: the bar columns plus the
    * kernel's constant staging columns (fixed-reference cusum's μ/σ) form
    * the row each tick feeds it. The kernel object is the state. */
  private final class KernelStage(
      make: () => graft.ta.rec.Kernel,
      consts: Array[Any],
      schema: org.apache.spark.sql.types.StructType
  ) extends StreamStage {
    private var kernel: graft.ta.rec.Kernel = _
    def update(t: BarTick): Array[Any] = {
      if (kernel == null) { kernel = make(); kernel.init(schema); kernel.reset() }
      kernel.update(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](t.series_id, t.ts, t.open, t.high, t.low, t.close, t.volume) ++ consts, schema))
    }
  }

  /** One streamable spec: its output columns, the key that fingerprints
    * its per-series state layout, and the per-series stage factory. */
  case class StreamKernel(
      outs: Seq[org.apache.spark.sql.types.StructField],
      key: String,
      stage: () => StreamStage
  ) {
    /** True when the stage evaluates the spec's batch plan ([[PlanStage]]). */
    def planDriven: Boolean = key.startsWith("plan:")
  }

  /** Kinds whose batch plan is causal but which were never part of the
    * declared streaming surface (StreamingCoverageSpec); offering them is a
    * coverage change of its own, not a side effect of how stages are built. */
  private val notOffered = Set("rma", "eri", "kst", "aberration")

  /** Columns a kind's batch plan materializes for a component kind
    * (true_range, ad, obv, natr's atr_n). The stream leaves them to that
    * kind's own spec, so the two compose in one strategy without colliding. */
  private def componentCol(kind: String, name: String): Boolean = kind match {
    case "adosc" => name == "ad"
    case "aobv" => name == "obv"
    case "atr" | "chop" | "vortex" => name == "true_range"
    case "natr" => name == "true_range" || name.startsWith("atr_")
    case _ => false
  }

  private def specKey(s: graft.ta.IndicatorSpec): String =
    s.kind + ":" + s.params.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString(",")

  /** The batch plan of a spec compiled for tick evaluation, analyzed once
    * per JVM: keyed by the spec and the confs analysis reads (ANSI mode,
    * case sensitivity, session time zone), reused across sessions. */
  private def planProgram(
      spark: SparkSession,
      spec: graft.ta.IndicatorSpec
  ): Either[String, PlanStage.Program] = {
    val conf = spark.sessionState.conf
    val key = s"${specKey(spec)}|ansi=${conf.ansiEnabled}|cs=${conf.caseSensitiveAnalysis}|" +
      s"tz=${conf.sessionLocalTimeZone}"
    PlanStage.cached(key) {
      graft.functions.Registry.register(spark)
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), barSchema)
      graft.ta.registry.lowered(empty, spec) match {
        case None => Left("no batch plan")
        case Some(df) =>
          val outs = df.columns.toSeq.filterNot(c => barSchema.fieldNames.contains(c) || componentCol(spec.kind, c))
          PlanStage.compile(key, df.queryExecution.analyzed, outs)
      }
    }
  }

  /** Streaming form of a causal spec. Every kind with a causal batch plan
    * streams that plan tick by tick ([[PlanStage]]), so stream equals batch
    * by construction; the kinds batch runs as REC kernels (jma,
    * fixed-reference cusum) stream the kernel itself. None for a kind that
    * reads later rows or a whole series. Needs an active SparkSession (the
    * plan is analyzed); a plan's projections are generated here, on the
    * calling thread, so executors in the same JVM find them compiled. */
  def streamKernel(spec: graft.ta.IndicatorSpec): Option[StreamKernel] =
    if (notOffered(spec.kind)) None
    else
      planProgram(SparkSession.active, spec) match {
        case Right(p) =>
          p.evaluator // generate its projections now, on the driver
          Some(StreamKernel(p.fields, s"plan:${p.key}:${p.layout}", () => new PlanStage(p)))
        case Left(_) =>
          graft.ta.registry.recKernel(spec).map { case (outs, consts, make) =>
            val schema = org.apache.spark.sql.types.StructType(barSchema.fields ++ consts.map(c => dblField(c._1)))
            val vals: Array[Any] = consts.map(_._2).toArray
            StreamKernel(outs, s"kernel:${specKey(spec)}", () => new KernelStage(make, vals, schema))
          }
      }

  /** The EXACT set of registry kinds that stream, computed from the same
    * dispatch [[streamKernel]] uses (cusum probed with trained μ/σ since
    * only its fixed-reference mode is causal). This is the coverage
    * CONTRACT: StreamingCoverageSpec pins it to a declared list. Needs an
    * active SparkSession. */
  def streamableKinds: Set[String] = {
    val spark = SparkSession.active
    graft.ta.registry.indicators.filter { k =>
      val spec =
        if (k == "cusum") graft.ta.IndicatorSpec(k, Map("mu" -> 0.0, "sd" -> 1.0))
        else graft.ta.IndicatorSpec(k)
      !notOffered(k) &&
        (planProgram(spark, spec).isRight || graft.ta.registry.recKernel(spec).isDefined)
    }.toSet
  }

  /** Why a kind does not stream through its batch plan (None when it does). */
  private def planRefusal(spec: graft.ta.IndicatorSpec): Option[String] =
    planProgram(SparkSession.active, spec).left.toOption

  /** Stream an ENTIRE Strategy in one stateful pass — the streaming twin
    * of `registry.strategy`: every spec resolves through
    * [[streamKernel]] (its batch plan evaluated tick by tick, or the REC
    * kernel for jma / fixed-reference cusum) and all stages ride a single
    * [[kernelBatchStream]] flatMapGroupsWithState — one shuffle, one
    * state entry per series carrying every indicator's state. Throws on a
    * spec that does not stream (the [[streamableKinds]] exclusions:
    * whole-frame, trained-stats cusum). Specs must declare DISJOINT
    * output columns (unlike the batch compiler there is no builder-fold
    * fallback for same-kind/same-name collisions).
    *
    * LOOKAHEAD COMPOSITION (round 12): a strategy containing the
    * lookahead kinds (ichimoku, centered dpo) no longer needs a second
    * stream + join — the WHOLE strategy switches to an
    * emit-with-latency-K contract (K = the largest lookahead distance
    * across its specs): row t's causal columns are computed at tick t,
    * its lookahead cells backfill as ticks t+1..t+K land, and the
    * complete row emits at tick t+K — batch parity row-for-row on the
    * emitted prefix (every row with ≥ K successors; exactly the rows
    * whose lookahead cells batch leaves non-null). Causal-only
    * strategies keep today's immediate emission; per-series state adds
    * O(K × row width) for the pending ring. Warm-start
    * ([[strategyStreamWarm]]) composes too (round 13): causal kernels
    * fold from history and the pending ring is primed with the last
    * Kmax history rows via [[bootstrapMixedState]].
    *
    * SCHEMA DIFFERENCE vs the batch compiler: six batch lowerings
    * materialize a component kind's column as an output (atr, chop and
    * vortex emit true_range; natr emits true_range and atr_n; adosc emits
    * ad; aobv emits obv) — the stream leaves those columns to the
    * component's own spec, so the kinds compose in one pass without
    * column collisions. A natr-only streamed Strategy therefore yields
    * natr_n alone; add an explicit atr spec if you want the intermediate
    * too. */
  def strategyStream(
      ticks: Dataset[BarTick],
      st: graft.ta.Strategy,
      latePolicy: String = "",
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame =
    if (st.ta.exists(s => lookaheadKinds(s.kind)))
      strategyStreamLookahead(ticks, st, latePolicy, lateCounter)
    else
      kernelBatchStream(ticks, compileStrategy(st), latePolicy, lateCounter)

  /** WARM-START strategyStream: bootstrap every series' state from BATCH
    * history instead of replaying it through micro-batches. The history
    * fold is one shuffle (hash on series_id) + a sorted per-partition
    * sequential pass through the SAME kernel/stage objects the stream
    * uses, so the state handed to the first micro-batch is bit-identical
    * to what replaying the history tick-by-tick would have produced
    * (StreamingBootstrapSpec) — but it runs at batch speed with
    * full-cluster parallelism and sort-spill, which at 100 TB of history
    * is the difference between minutes and an unbounded replay. The
    * stream then continues seamlessly: first streamed tick folds on top
    * of the bootstrapped state (in-order contract applies across the
    * boundary — stream ticks must have ts > the series' last history
    * ts, else they drop/fail per the late policy). */
  def strategyStreamWarm(
      ticks: Dataset[BarTick],
      st: graft.ta.Strategy,
      history: Dataset[BarTick],
      latePolicy: String = "",
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame =
    if (st.ta.exists(s => lookaheadKinds(s.kind))) {
      // MIXED warm-start (round 13): causal kernels fold from history as
      // in the causal path, and each lookahead pending ring is primed
      // with the last Kmax history rows — exactly the rows whose
      // lookahead cells are still open at the boundary. The first live
      // ticks backfill and emit them, so the stream's output equals a
      // full cold replay's row-for-row after the boundary
      // (StrategyLookaheadStreamSpec) without replaying history.
      strategyStreamLookahead(
        ticks, st, latePolicy, lateCounter, Some(bootstrapMixedState(history, st)))
    } else {
      val sks = compileStrategy(st)
      kernelBatchStream(ticks, sks, latePolicy, lateCounter, Some(bootstrapState(history, sks)))
    }

  // --------------------------------------- lookahead-in-strategy composition
  /** Kinds whose batch lowering reads future rows (ichimoku's chikou
    * span; centered dpo — the Strategy registry always builds dpo
    * centered, the canonical default). Inside [[strategyStream]] they
    * compose via [[strategyStreamLookahead]]'s latency-K emission. */
  private val lookaheadKinds: Set[String] = Set("ichimoku", "dpo")

  /** Per-series state machine for ONE lookahead spec inside a mixed
    * strategy: `update` computes row t's CAUSAL cells (deferred cells
    * null) and `backfill` — called on the same tick — yields the
    * deferred cells of row t−k, defined once ≥ k+1 ticks were seen.
    * State is flat arrays only (the kryo rule). */
  private[graft] sealed trait LookStage extends Serializable {
    def fields: Seq[org.apache.spark.sql.types.StructField]
    def k: Int
    def deferredIdx: Array[Int]
    def update(t: BarTick): Array[Any]
    def backfill(): Array[Any]
  }

  /** Ichimoku inside a strategy: its/iks/isa/isb are causal (the spans
    * shift FORWARD — row t reads raws from shiftN rows back), only the
    * chikou span ics_t = close_{t+shiftN} defers. Arithmetic is the
    * [[ichimokuStream]] per-tick computation verbatim, so mixed-mode
    * rows equal the dedicated stream's (and the batch lowering's). */
  private[graft] final class IchimokuLookStage(
      tenkanN: Int, kijunN: Int, spanBN: Int, shiftN: Int
  ) extends LookStage {
    require(
      tenkanN >= 1 && kijunN >= 1 && shiftN >= 1 && spanBN >= math.max(tenkanN, kijunN),
      s"ichimoku: need spanB >= max(tenkan, kijun) and positive lengths " +
        s"(got tenkan=$tenkanN kijun=$kijunN spanB=$spanBN shift=$shiftN)")
    val fields: Seq[org.apache.spark.sql.types.StructField] = Seq(
      dblField(s"its_$tenkanN"), dblField(s"iks_$kijunN"),
      dblField(s"isa_$tenkanN"), dblField(s"isb_$kijunN"), dblField(s"ics_$kijunN"))
    val k: Int = shiftN
    val deferredIdx: Array[Int] = Array(4)
    private val highs = new Array[Double](spanBN)
    private val lows = new Array[Double](spanBN)
    private val isaRaw = new Array[java.lang.Double](shiftN)
    private val isbRaw = new Array[java.lang.Double](shiftN)
    private var cnt = 0L
    private var curClose = 0.0
    private def mid(n: Int): java.lang.Double =
      if (cnt + 1 < n) null
      else {
        var mx = Double.NegativeInfinity; var mn = Double.PositiveInfinity
        var i = 0L
        val lo = cnt + 1 - n
        while (lo + i <= cnt) {
          val j = ((lo + i) % spanBN).toInt
          if (highs(j) > mx) mx = highs(j)
          if (lows(j) < mn) mn = lows(j)
          i += 1
        }
        Double.box((mx + mn) / 2.0)
      }
    def update(t: BarTick): Array[Any] = {
      val slot = (cnt % spanBN).toInt
      highs(slot) = t.high; lows(slot) = t.low
      val its = mid(tenkanN)
      val iks = mid(kijunN)
      val isb0 = mid(spanBN)
      val isa0: java.lang.Double =
        if (its == null || iks == null) null
        else Double.box((its.doubleValue() + iks.doubleValue()) / 2.0)
      val rslot = (cnt % shiftN).toInt
      val isa: java.lang.Double = if (cnt >= shiftN) isaRaw(rslot) else null
      val isb: java.lang.Double = if (cnt >= shiftN) isbRaw(rslot) else null
      isaRaw(rslot) = isa0; isbRaw(rslot) = isb0
      curClose = t.close
      cnt += 1
      Array[Any](its, iks, isa, isb, null)
    }
    def backfill(): Array[Any] = Array[Any](Double.box(curClose))
  }

  /** Centered dpo inside a strategy: dpo_t = close_t − sma_{t+K},
    * K = ⌊n/2⌋+1 — the whole column defers. The sma arithmetic is the
    * [[dpoCenteredStream]] frame-order fold verbatim. */
  private[graft] final class DpoLookStage(n: Int) extends LookStage {
    val fields: Seq[org.apache.spark.sql.types.StructField] = Seq(dblField(s"dpo_$n"))
    val k: Int = n / 2 + 1
    val deferredIdx: Array[Int] = Array(0)
    private val closes = new Array[Double](n)
    private val pcls = new Array[Double](k + 1)
    private var cnt = 0L
    private var smaCur: java.lang.Double = null
    def update(t: BarTick): Array[Any] = {
      closes((cnt % n).toInt) = t.close
      smaCur =
        if (cnt + 1 < n) null
        else {
          var s = 0.0; var i = 0L
          val lo = cnt + 1 - n
          while (lo + i <= cnt) { s += closes(((lo + i) % n).toInt); i += 1 }
          Double.box(s / n)
        }
      pcls((cnt % (k + 1)).toInt) = t.close
      cnt += 1
      Array[Any](null)
    }
    def backfill(): Array[Any] = {
      val h = (((cnt - 1) - k) % (k + 1)).toInt
      Array[Any](
        if (smaCur == null) null else Double.box(pcls(h) - smaCur.doubleValue()))
    }
  }

  private def lookStream(spec: graft.ta.IndicatorSpec): Option[() => LookStage] = {
    def i(key: String, dflt: Int) =
      spec.params.get(key).map(_.toString.toDouble.toInt).getOrElse(dflt)
    spec.kind match {
      case "ichimoku" =>
        val tN = i("tenkan", 9); val kN = i("kijun", 26)
        val sN = i("senkou", 52); val sh = i("shift", 26)
        Some(() => new IchimokuLookStage(tN, kN, sN, sh))
      case "dpo" =>
        val n = i("length", 20)
        Some(() => new DpoLookStage(n))
      case _ => None
    }
  }

  /** Per-series state for the latency-K mixed mode: the causal
    * kernel/stage entries + the lookahead state machines + the pending
    * ring of not-yet-complete output rows (ts + values, width = the
    * full output row). */
  case class MixedKernelState(
      lastTs: Long,
      lateDropped: Long,
      cnt: Long,
      pn: Int,
      fingerprint: Long,
      entries: Array[StreamStage],
      looks: Array[LookStage],
      pts: Array[Long],
      pvals: Array[Array[Any]]
  )

  /** ONE stateful pass for a strategy mixing causal and lookahead specs
    * (dispatched from [[strategyStream]]): causal columns compute at
    * tick t into a pending ring of depth Kmax+1; each lookahead stage
    * backfills its deferred cells of row t−k_i on tick t; the head row
    * emits COMPLETE when tick t+Kmax arrives. Emitted rows equal the
    * batch strategy row-for-row on the emitted prefix
    * (StrategyLookaheadStreamSpec); the stream head's most recent Kmax
    * rows are pending — exactly the rows whose lookahead cells batch
    * leaves null at the frame tail. Same in-order contract, idle TTL,
    * and changed-spec-count restore guard as [[kernelBatchStream]]. */
  /** Compiled layout for a mixed causal+lookahead strategy — shared by
    * [[strategyStreamLookahead]] (the live stateful pass) and
    * [[bootstrapMixedState]] (the batch history fold), so the state the
    * warm path hands to the first micro-batch is built by the SAME
    * kernels/stages/offsets the stream folds with. */
  private case class MixedCompiled(
      causal: Seq[StreamKernel],
      lookMk: Seq[() => LookStage],
      totalW: Int,
      causalOff: Seq[Int],
      lookOff: Seq[Int],
      allFields: Seq[org.apache.spark.sql.types.StructField],
      kmax: Int,
      pcap: Int,
      fingerprint: Long
  ) extends Serializable

  private def compileMixed(st: graft.ta.Strategy): MixedCompiled = {
    // compile IN STRATEGY ORDER: each spec is causal (StreamKernel) or
    // lookahead (LookStage factory)
    val compiled: Seq[Either[StreamKernel, () => LookStage]] = st.ta.map { s =>
      lookStream(s) match {
        case Some(mk) => Right(mk)
        case None     => Left(compileOne(st, s))
      }
    }
    val causal: Seq[StreamKernel] = compiled.collect { case Left(sk) => sk }
    val lookMk: Seq[() => LookStage] = compiled.collect { case Right(mk) => mk }
    // column layout: per-spec offsets into the flat values row, in order
    val widths = compiled.map {
      case Left(sk)  => sk.outs.length
      case Right(mk) => mk().fields.length
    }
    val offsets = widths.scanLeft(0)(_ + _)
    val totalW = offsets.last
    val causalOff = compiled.zipWithIndex.collect { case (Left(_), i) => offsets(i) }
    val lookOff = compiled.zipWithIndex.collect { case (Right(_), i) => offsets(i) }
    val allFields = compiled.flatMap {
      case Left(sk)  => sk.outs
      case Right(mk) => mk().fields
    }
    val outNames = allFields.map(_.name)
    require(
      outNames.distinct.size == outNames.size,
      s"strategy '${st.name}': duplicate output columns across specs: " +
        outNames.diff(outNames.distinct).distinct.mkString(", "))
    val kmax = lookMk.map(_().k).max
    val fp = Fingerprint.of(causal.map(_.key) ++ st.ta.filter(s => lookaheadKinds(s.kind)).map(specKey))
    MixedCompiled(causal, lookMk, totalW, causalOff, lookOff, allFields, kmax, kmax + 1, fp)
  }

  private def strategyStreamLookahead(
      ticks: Dataset[BarTick],
      st: graft.ta.Strategy,
      latePolicy: String = "",
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      initialState: Option[Dataset[(String, MixedKernelState)]] = None
  ): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val mc = compileMixed(st)
    val causal = mc.causal; val lookMk = mc.lookMk
    val totalW = mc.totalW; val causalOff = mc.causalOff; val lookOff = mc.lookOff
    val kmax = mc.kmax; val pcap = mc.pcap
    val outSchema = StructType(
      StructField("series_id", StringType) +: StructField("ts", LongType) +: mc.allFields)

    val spark = ticks.sparkSession
    import spark.implicits._
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val stateEnc: Encoder[MixedKernelState] = Encoders.kryo[MixedKernelState]
    val policy =
      if (latePolicy.nonEmpty) latePolicy
      else spark.conf.get("spark.graft.stream.latePolicy", "drop")
    require(
      policy == "drop" || policy == "fail",
      s"latePolicy must be 'drop' or 'fail', got '$policy'")
    val lateAcc = lateCounter.getOrElse(
      spark.sparkContext.longAccumulator("graft.stream.late_dropped"))

    def step(
        key: String,
        rows: Iterator[BarTick],
        gs: GroupState[MixedKernelState]
    ): Iterator[Row] = {
      var st0 = gs.getOption match {
        case Some(s) =>
          if (s.fingerprint != mc.fingerprint) throw Fingerprint.mismatch(key)
          var i = 0
          while (i < s.entries.length) { s.entries(i).rearm(causal(i).stage); i += 1 }
          s
        case None =>
          MixedKernelState(
            Long.MinValue, 0L, 0L, 0, mc.fingerprint,
            causal.map(_.stage()).toArray,
            lookMk.map(_()).toArray,
            new Array[Long](pcap),
            new Array[Array[Any]](pcap))
      }
      var cnt = st0.cnt
      var pn = st0.pn
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      rows.toSeq.sortBy(_.ts).foreach { t =>
        if (t.ts <= st0.lastTs) {
          if (policy == "fail")
            throw new IllegalStateException(
              s"late tick for series '$key': ts=${t.ts} <= lastTs=${st0.lastTs} " +
                "(out-of-order across micro-batches; latePolicy=fail)")
          lateAcc.add(1L)
          st0 = st0.copy(lateDropped = st0.lateDropped + 1L)
        } else {
          st0 = st0.copy(lastTs = t.ts)
          val vals = new Array[Any](totalW)
          var ci = 0
          while (ci < st0.entries.length) {
            val o = st0.entries(ci).update(t)
            System.arraycopy(o, 0, vals, causalOff(ci), o.length)
            ci += 1
          }
          var li = 0
          while (li < st0.looks.length) {
            val lk = st0.looks(li)
            val iv = lk.update(t)
            var j = 0
            while (j < iv.length) { vals(lookOff(li) + j) = iv(j); j += 1 }
            li += 1
          }
          val slot = (cnt % pcap).toInt
          st0.pts(slot) = t.ts
          st0.pvals(slot) = vals
          pn += 1
          li = 0
          while (li < st0.looks.length) {
            val lk = st0.looks(li)
            if (cnt >= lk.k) {
              val bf = lk.backfill()
              val bslot = ((cnt - lk.k) % pcap).toInt
              var j = 0
              while (j < lk.deferredIdx.length) {
                st0.pvals(bslot)(lookOff(li) + lk.deferredIdx(j)) = bf(j)
                j += 1
              }
            }
            li += 1
          }
          if (pn == pcap) {
            val h = ((cnt - kmax) % pcap).toInt
            out += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              Array[Any](key, st0.pts(h)) ++ st0.pvals(h), outSchema)
            pn -= 1
          }
          cnt += 1
        }
      }
      gs.update(st0.copy(cnt = cnt, pn = pn))
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    val grouped = ticks.groupByKey(_.series_id)
    initialState match {
      case Some(init) =>
        val initKV = init.groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState(
          OutputMode.Append(), idleTimeout(ttl), initKV)(withIdleTtl(ttl)(step))
      case None =>
        grouped.flatMapGroupsWithState(
          OutputMode.Append(), idleTimeout(ttl))(withIdleTtl(ttl)(step))
    }
  }

  /** Fold BATCH history into per-series MIXED (causal + lookahead) state
    * (round-13 verdict item #4: warm-start no longer refuses lookahead
    * strategies). Same shape as [[bootstrapState]] — one shuffle, sorted
    * per-partition sequential pass through the SAME kernel/stage/LookStage
    * objects the stream uses — plus the latency-K machinery: every
    * history row folds through the lookahead stages (update + backfill)
    * and lands in the pending ring; a row whose lookahead cells history
    * already completed is DROPPED instead of emitted (batch owns the
    * history output), so what remains pending is EXACTLY the last Kmax
    * rows — the rows whose lookahead cells are still open at the
    * history/live boundary. The first live ticks backfill and emit them,
    * which is why warm-mixed equals a full replay row-for-row on every
    * row emitted after the boundary (StrategyLookaheadStreamSpec).
    * State size stays O(Kmax × row width) per series. */
  private def bootstrapMixedState(
      history: Dataset[BarTick],
      st: graft.ta.Strategy
  ): Dataset[(String, MixedKernelState)] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    val mc = compileMixed(st)
    implicit val outEnc: Encoder[(String, MixedKernelState)] =
      Encoders.tuple(Encoders.STRING, Encoders.kryo[MixedKernelState])
    history
      .repartition(col("series_id"))
      .sortWithinPartitions("series_id", "ts")
      .mapPartitions { it =>
        new Iterator[(String, MixedKernelState)] {
          private var cur: BarTick = if (it.hasNext) it.next() else null
          def hasNext: Boolean = cur != null
          def next(): (String, MixedKernelState) = {
            val key = cur.series_id
            val entries = mc.causal.map(_.stage()).toArray
            val looks = mc.lookMk.map(_()).toArray
            val pts = new Array[Long](mc.pcap)
            val pvals = new Array[Array[Any]](mc.pcap)
            var cnt = 0L
            var pn = 0
            var lastTs = Long.MinValue
            var done = false
            while (!done) {
              val t = cur
              lastTs = t.ts
              // the stream step's per-tick fold, minus emission
              val vals = new Array[Any](mc.totalW)
              var ci = 0
              while (ci < entries.length) {
                val o = entries(ci).update(t)
                System.arraycopy(o, 0, vals, mc.causalOff(ci), o.length)
                ci += 1
              }
              var li = 0
              while (li < looks.length) {
                val lk = looks(li)
                val iv = lk.update(t)
                var j = 0
                while (j < iv.length) { vals(mc.lookOff(li) + j) = iv(j); j += 1 }
                li += 1
              }
              val slot = (cnt % mc.pcap).toInt
              pts(slot) = t.ts
              pvals(slot) = vals
              pn += 1
              li = 0
              while (li < looks.length) {
                val lk = looks(li)
                if (cnt >= lk.k) {
                  val bf = lk.backfill()
                  val bslot = ((cnt - lk.k) % mc.pcap).toInt
                  var j = 0
                  while (j < lk.deferredIdx.length) {
                    pvals(bslot)(mc.lookOff(li) + lk.deferredIdx(j)) = bf(j)
                    j += 1
                  }
                }
                li += 1
              }
              // complete head row: batch output already carries it — drop
              if (pn == mc.pcap) pn -= 1
              cnt += 1
              if (it.hasNext) { cur = it.next(); if (cur.series_id != key) done = true }
              else { cur = null; done = true }
            }
            (key, MixedKernelState(lastTs, 0L, cnt, pn, mc.fingerprint, entries, looks, pts, pvals))
          }
        }
      }
  }

  /** Resolve ONE causal spec to its StreamKernel, with the diagnostics for
    * kinds that do not stream (factored from [[compileStrategy]] so the
    * mixed path shares them). */
  private def compileOne(st: graft.ta.Strategy, s: graft.ta.IndicatorSpec): StreamKernel =
    streamKernel(s).getOrElse {
      val hint = s.kind match {
        case "ichimoku" | "dpo" =>
          " — it reads the future; use strategyStream/strategyStreamWarm, which " +
            "compose lookahead kinds at latency K (cold AND warm), " +
            "or the dedicated ichimokuStream/dpoCenteredStream; the raw " +
            "kernelBatchStream/bootstrapState path is causal-only"
        case "long_run" | "short_run" | "tsignals" | "xsignals" =>
          " — signal utils take arbitrary columns; run StreamingTa.signalsStream " +
            "over this stream's OUTPUT (or use their consumers amat/aobv here)"
        case "cusum" =>
          " — trained-stats mode needs whole-history μ/σ; use " +
            "StreamingTa.cusumTrainedStream(ticks, history), or pass mu/sd for fixed-ref"
        case k if notOffered(k) => " — not part of the declared streaming surface"
        case _ => planRefusal(s).map(r => s" — its batch plan $r").getOrElse("")
      }
      throw new IllegalArgumentException(
        s"strategy '${st.name}': kind '${s.kind}' has no streaming form " +
          s"(see StreamingTa.streamableKinds)$hint")
    }

  private def compileStrategy(st: graft.ta.Strategy): Seq[StreamKernel] = {
    val sks = st.ta.map(s => compileOne(st, s))
    val outNames = sks.flatMap(_.outs.map(_.name))
    require(
      outNames.distinct.size == outNames.size,
      s"strategy '${st.name}': duplicate output columns across specs: " +
        outNames.diff(outNames.distinct).distinct.mkString(", "))
    sks
  }

  /** One 64-bit fingerprint of a compiled strategy: its specs' keys (kind,
    * params, confs and state layout) in order. Stored in every series'
    * state; a restore under a different fingerprint fails loudly. */
  private object Fingerprint {
    def of(keys: Seq[String]): Long = {
      val s = keys.mkString("\u0000")
      val h = scala.util.hashing.MurmurHash3
      (h.stringHash(s, 0x2a1f).toLong << 32) | (h.stringHash(s, 0x5bd1).toLong & 0xffffffffL)
    }

    def mismatch(key: String) = new IllegalStateException(
      s"restored state for series '$key' was written by a different strategy (its fingerprint " +
        "does not match the query's specs) — the strategy changed across a checkpoint restart; " +
        "drain and warm-start (strategyStreamWarm) instead")
  }

  /** Fold BATCH history into per-series streaming state (the step function
    * minus emission): repartition by series, sort within partitions, one
    * sequential pass per series. Feed the result to [[kernelBatchStream]]
    * `initialState` (or use [[strategyStreamWarm]]). */
  def bootstrapState(
      history: Dataset[BarTick],
      specs: Seq[StreamKernel]
  ): Dataset[(String, BatchKernelState)] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    val fp = Fingerprint.of(specs.map(_.key))
    implicit val outEnc: Encoder[(String, BatchKernelState)] =
      Encoders.tuple(Encoders.STRING, Encoders.kryo[BatchKernelState])
    history
      .repartition(col("series_id"))
      .sortWithinPartitions("series_id", "ts")
      .mapPartitions { it =>
        new Iterator[(String, BatchKernelState)] {
          private var cur: BarTick = if (it.hasNext) it.next() else null
          def hasNext: Boolean = cur != null
          def next(): (String, BatchKernelState) = {
            val key = cur.series_id
            val entries = specs.map(_.stage()).toArray
            var lastTs = Long.MinValue
            var done = false
            while (!done) {
              val t = cur
              lastTs = t.ts
              entries.foreach(_.update(t))
              if (it.hasNext) { cur = it.next(); if (cur.series_id != key) done = true }
              else { cur = null; done = true }
            }
            (key, BatchKernelState(lastTs, 0L, fp, entries))
          }
        }
      }
  }

  /** Per-series state for [[kernelBatchStream]]: the stage entries plus
    * the ENFORCED in-order watermark — `lastTs` is the highest tick ts
    * folded so far, `lateDropped` counts cross-batch late ticks dropped for
    * this series (policy "drop") — and the fingerprint of the strategy
    * that wrote it. */
  case class BatchKernelState(
      lastTs: Long,
      lateDropped: Long,
      fingerprint: Long,
      entries: Array[StreamStage]
  )

  /** Run many streaming stages in ONE stateful pass (one shuffle, one state
    * entry per series).
    *
    * IN-ORDER CONTRACT (enforced, not prose): within a micro-batch ticks are
    * sorted by ts here; ACROSS micro-batches the per-series `lastTs` carried
    * in state detects any tick with `ts <= lastTs` — a late arrival (or a
    * duplicate ts) that, if folded, would silently corrupt every indicator's
    * state for that series from then on. Policy (param, or conf
    * `spark.graft.stream.latePolicy` when the param is empty):
    *  - `"drop"` (default): the late tick is NOT folded and NOT emitted; the
    *    drop is counted per series in state AND in the `lateCounter`
    *    accumulator (pass your own to observe; otherwise one named
    *    `graft.stream.late_dropped` is registered and visible in the UI).
    *  - `"fail"`: the query fails loudly with series/ts/lastTs detail —
    *    for feeds where a late tick means the upstream log is broken.
    *
    * RESTART CONTRACT: restored state must come from the same specs — a
    * state entry whose fingerprint differs from the query's (a changed
    * kind, parameter, spec order or state layout) fails the query instead
    * of folding ticks into another indicator's state. */
  def kernelBatchStream(
      ticks: Dataset[BarTick],
      specs: Seq[StreamKernel],
      latePolicy: String = "",
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      initialState: Option[Dataset[(String, BatchKernelState)]] = None
  ): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val outSchema = StructType(
      StructField("series_id", StringType) +: StructField("ts", LongType) +: specs.flatMap(_.outs)
    )
    val offsets = specs.map(_.outs.length).scanLeft(2)(_ + _).toArray
    val fp = Fingerprint.of(specs.map(_.key))
    val spark = ticks.sparkSession
    import spark.implicits._
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val stateEnc: Encoder[BatchKernelState] =
      Encoders.kryo[BatchKernelState]
    val policy =
      if (latePolicy.nonEmpty) latePolicy
      else spark.conf.get("spark.graft.stream.latePolicy", "drop")
    require(
      policy == "drop" || policy == "fail",
      s"latePolicy must be 'drop' or 'fail', got '$policy'")
    val lateAcc = lateCounter.getOrElse(
      spark.sparkContext.longAccumulator("graft.stream.late_dropped"))

    def step(
        key: String,
        rows: Iterator[BarTick],
        gs: GroupState[BatchKernelState]
    ): Iterator[Row] = {
      var st0 = gs.getOption match {
        case Some(s) =>
          // a checkpoint written by other specs means the query was
          // redeployed with a CHANGED strategy against old state — folding
          // would misalign stages silently; the restart contract
          // (SCALING.md) requires drain + warm-start instead
          if (s.fingerprint != fp) throw Fingerprint.mismatch(key)
          // re-attach @transient evaluator machinery dropped by the state
          // encoder (no-op for kernel stages)
          var i = 0
          while (i < s.entries.length) { s.entries(i).rearm(specs(i).stage); i += 1 }
          s
        case None =>
          BatchKernelState(Long.MinValue, 0L, fp, specs.map(_.stage()).toArray)
      }
      val state = st0.entries
      val out = rows.toSeq.sortBy(_.ts).flatMap { t =>
        if (t.ts <= st0.lastTs) {
          // late (or duplicate-ts) tick straddling micro-batches: folding it
          // as if newest would corrupt this series' state permanently
          if (policy == "fail")
            throw new IllegalStateException(
              s"late tick for series '$key': ts=${t.ts} <= lastTs=${st0.lastTs} " +
                "(out-of-order across micro-batches; latePolicy=fail)")
          lateAcc.add(1L)
          st0 = st0.copy(lateDropped = st0.lateDropped + 1L)
          None
        } else {
          st0 = st0.copy(lastTs = t.ts)
          val vals = new Array[Any](offsets.last)
          vals(0) = t.series_id; vals(1) = t.ts
          var i = 0
          while (i < state.length) {
            val o = state(i).update(t)
            System.arraycopy(o, 0, vals, offsets(i), o.length)
            i += 1
          }
          Some(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vals, outSchema): Row)
        }
      }
      gs.update(st0)
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    val grouped = ticks.groupByKey(_.series_id)
    initialState match {
      case Some(init) =>
        val initKV = init.groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState(
          OutputMode.Append(), idleTimeout(ttl), initKV)(withIdleTtl(ttl)(step))
      case None =>
        grouped.flatMapGroupsWithState(
          OutputMode.Append(), idleTimeout(ttl))(withIdleTtl(ttl)(step))
    }
  }
  // ------------------------------------------- trained-stats cusum serve
  /** TRAIN-THEN-SERVE for the trained-stats CUSUM mode — the exclusion's
    * honest streaming semantics: the batch mode standardizes by PER-SERIES
    * μ/σ computed over the whole frame (which a stream cannot know), so
    * the streaming form trains those stats on BATCH HISTORY (the exact
    * trained-mode aggregate, 6-dp-rounded per-series avg/stddev_samp),
    * folds the CUSUM recursion through that history for warm state, and
    * serves live ticks against the FIXED trained stats — μ/σ drift after
    * the training cut is what the monitor is FOR. Live rows equal a batch
    * fixed-ref cusum run over history+live with the same per-series stats
    * (CusumServeSpec). Per-series state: (sp, sn, lastTs); stats ride a
    * broadcast keyed by series (keys-sized — guarded by `maxSeries`,
    * COUNTED BEFORE the collect so an over-limit key space fails loudly
    * instead of materializing on the driver). The default ceiling of 1M
    * series bounds the collected+broadcast map at ~50–100 MB (two boxed
    * doubles + a short key per entry) — the same dimension-scale budget
    * as [[asofEnrichStream]]'s `maxDimRows`; past it, per-series stats
    * belong in a keyed join, not a broadcast. */
  def cusumTrainedStream(
      ticks: Dataset[BarTick],
      history: Dataset[BarTick],
      k: Double = 0.5,
      h: Double = 5.0,
      maxSeries: Long = 1000000L
  ): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val spark = ticks.sparkSession
    import spark.implicits._
    val statsDf = history
      .groupBy(col("series_id"))
      .agg(
        round(avg(col("close")), 6).as("mu"),
        round(stddev_samp(col("close")), 6).as("sd"))
    val nSeries = statsDf.count()
    require(
      nSeries <= maxSeries,
      s"cusumTrainedStream: $nSeries series > maxSeries=$maxSeries — the trained stats are " +
        "collected and broadcast (driver + every executor hold the full map); raise maxSeries " +
        "only with the memory to back it, or restructure around a keyed stats join")
    val statRows = statsDf.collect()
    val stats: Map[String, (java.lang.Double, java.lang.Double)] = statRows.map { r =>
      r.getString(0) -> ((
        if (r.isNullAt(1)) null else Double.box(r.getDouble(1)),
        if (r.isNullAt(2)) null else Double.box(r.getDouble(2))))
    }.toMap
    val bStats = spark.sparkContext.broadcast(stats)

    case class CuSt(lastTs: Long, sp: Double, sn: Double)
    implicit val stEnc: Encoder[CuSt] = Encoders.kryo[CuSt]
    implicit val warmEnc: Encoder[(String, CuSt)] =
      Encoders.tuple(Encoders.STRING, Encoders.kryo[CuSt])

    /** one CUSUM step; returns (sp, sn, alarm) with post-alarm reset —
      * the rec.Cusum kernel recursion exactly */
    def stepOne(sp0: Double, sn0: Double, x: Double, mu: Double, sd: Double): (Double, Double, Boolean) = {
      val z = (x - mu) / sd
      val sp = math.max(0.0, sp0 + z - k)
      val sn = math.max(0.0, sn0 - z - k)
      (sp, sn, sp > h || sn > h)
    }

    // warm state: fold the recursion through history, batch-parallel
    val warm: Dataset[(String, CuSt)] = history
      .repartition(col("series_id"))
      .sortWithinPartitions("series_id", "ts")
      .mapPartitions { it =>
        new Iterator[(String, CuSt)] {
          private var cur: BarTick = if (it.hasNext) it.next() else null
          def hasNext: Boolean = cur != null
          def next(): (String, CuSt) = {
            val key = cur.series_id
            val (mu, sd) = bStats.value.getOrElse(key, (null, null))
            var sp = 0.0; var sn = 0.0; var lastTs = Long.MinValue
            var done = false
            while (!done) {
              lastTs = cur.ts
              if (mu != null && sd != null && sd.doubleValue() != 0.0) {
                val (p, n0, alarm) = stepOne(sp, sn, cur.close, mu.doubleValue(), sd.doubleValue())
                if (alarm) { sp = 0.0; sn = 0.0 } else { sp = p; sn = n0 }
              }
              if (it.hasNext) { cur = it.next(); if (cur.series_id != key) done = true }
              else { cur = null; done = true }
            }
            (key, CuSt(lastTs, sp, sn))
          }
        }
      }

    val outSchema = StructType(Seq(
      StructField("series_id", StringType), StructField("ts", LongType),
      StructField("cusum_pos", DoubleType), StructField("cusum_neg", DoubleType),
      StructField("cusum_alarm", LongType)))
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)

    def step(key: String, it: Iterator[BarTick], gs: GroupState[CuSt]): Iterator[Row] = {
      val st0 = gs.getOption.getOrElse(CuSt(Long.MinValue, 0.0, 0.0))
      var lastTs = st0.lastTs
      var sp = st0.sp; var sn = st0.sn
      val (mu, sd) = bStats.value.getOrElse(key, (null, null))
      val ok = mu != null && sd != null && sd.doubleValue() != 0.0
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      it.toSeq.sortBy(_.ts).foreach { t =>
        if (t.ts > lastTs) {
          lastTs = t.ts
          val vals: Array[Any] =
            if (!ok) Array(key, t.ts, null, null, null)
            else {
              val (p, n0, alarm) = stepOne(sp, sn, t.close, mu.doubleValue(), sd.doubleValue())
              if (alarm) { sp = 0.0; sn = 0.0 } else { sp = p; sn = n0 }
              Array(key, t.ts, Double.box(p), Double.box(n0), Long.box(if (alarm) 1L else 0L))
            }
          out += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vals, outSchema)
        }
      }
      gs.update(CuSt(lastTs, sp, sn))
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    ticks
      .groupByKey(_.series_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), idleTimeout(ttl),
        warm.groupByKey(_._1).mapValues(_._2))(withIdleTtl(ttl)(step))
  }

  // ------------------------------------------ arbitrary-column signals
  /** Streaming twins of the ARBITRARY-COLUMN signal utils (tsignals /
    * xsignals / long_run / short_run) over ANY keyed ordered stream —
    * typically the OUTPUT of [[strategyStream]] (live ma/trend columns),
    * closing the "streamed only through their consumers amat/aobv"
    * exclusion. Input must expose `series_id` (string) and `ts` (long);
    * all original columns pass through with the signal columns appended —
    * the batch `df.ta.tsignals(...)` shape exactly (SignalsStreamSpec).
    *
    * Modes and their O(1)/O(n) per-series state:
    *  - `tsignals(trendCol)`: previous trend value (1 slot);
    *  - `xsignals(a, b)`: previous a/b + the running trend bit (the batch
    *    `last(ev) over cum` unrolled);
    *  - `long_run(fast, slow, n)` / `short_run`: n-deep rings of both
    *    inputs for the diff(·, n) comparisons.
    * Cross-batch late ticks drop under the standard in-order contract. */
  def signalsStream(
      rows: DataFrame,
      mode: String,
      cols: Seq[String],
      n: Int = 2
  ): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val inSchema = rows.schema
    require(
      inSchema.fieldNames.contains("series_id") && inSchema.fieldNames.contains("ts"),
      "signalsStream input needs series_id and ts columns")
    val outFields = mode match {
      case "tsignals" | "xsignals" => Seq("ts_trends", "ts_entries", "ts_exits")
      case "long_run"              => Seq("long_run")
      case "short_run"             => Seq("short_run")
      case other => throw new IllegalArgumentException(s"signalsStream: unknown mode '$other'")
    }
    val nCols = mode match {
      case "tsignals" => 1
      case _          => 2
    }
    require(cols.length == nCols, s"mode '$mode' takes $nCols input column(s)")
    val outSchema = StructType(inSchema.fields ++ outFields.map(f => StructField(f, DoubleType)))
    val spark = rows.sparkSession
    import spark.implicits._
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    val keyIdx = inSchema.fieldIndex("series_id")
    val tsIdx = inSchema.fieldIndex("ts")
    val colIdx = cols.map(inSchema.fieldIndex).toArray

    case class SigSt(
        lastTs: Long,
        cnt: Long,
        ring1: Array[java.lang.Double], // n-ring of cols(0) (run modes) / 1-slot prev
        ring2: Array[java.lang.Double], // n-ring of cols(1) / prev b
        var trend: Double // xsignals running trend bit
    )
    val ringN = mode match { case "long_run" | "short_run" => n; case _ => 1 }
    def freshSt = SigSt(
      Long.MinValue, 0L,
      new Array[java.lang.Double](ringN), new Array[java.lang.Double](ringN), 0.0)
    implicit val stEnc: Encoder[SigSt] = Encoders.kryo[SigSt]

    def num(r: Row, i: Int): java.lang.Double =
      if (r.isNullAt(i)) null
      else r.get(i) match {
        case d: Double => Double.box(d)
        case f: Float  => Double.box(f.toDouble)
        case l: Long   => Double.box(l.toDouble)
        case i2: Int   => Double.box(i2.toDouble)
        case other     => throw new IllegalArgumentException(s"non-numeric signal input: $other")
      }

    def step(key: String, it: Iterator[Row], gs: GroupState[SigSt]): Iterator[Row] = {
      val st = gs.getOption.getOrElse(freshSt)
      var lastTs = st.lastTs
      var cnt = st.cnt
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      it.toSeq.sortBy(_.getAs[Long](tsIdx)).foreach { r =>
        val ts = r.getAs[Long](tsIdx)
        if (ts > lastTs) {
          lastTs = ts
          val slot = (cnt % ringN).toInt
          val v1 = num(r, colIdx(0))
          val v2 = if (nCols == 2) num(r, colIdx(1)) else null
          val lag1: java.lang.Double = if (cnt >= ringN) st.ring1(slot) else null
          val lag2: java.lang.Double = if (cnt >= ringN) st.ring2(slot) else null
          val sig: Seq[Any] = mode match {
            case "tsignals" =>
              // batch: when(t === 1 && pt === 0, 1).otherwise(0) — a NULL
              // trend makes the condition null ⇒ 0, never a signal
              val pt = if (lag1 == null) 0.0 else lag1.doubleValue()
              val t = if (v1 == null) Double.NaN else v1.doubleValue()
              Seq(
                if (v1 == null) null else v1,
                Double.box(if (t == 1.0 && pt == 0.0) 1.0 else 0.0),
                Double.box(if (t == 0.0 && pt == 1.0) 1.0 else 0.0))
            case "xsignals" =>
              val xup = v1 != null && v2 != null && lag1 != null && lag2 != null &&
                v1.doubleValue() > v2.doubleValue() && lag1.doubleValue() <= lag2.doubleValue()
              val xdn = v1 != null && v2 != null && lag1 != null && lag2 != null &&
                v1.doubleValue() < v2.doubleValue() && lag1.doubleValue() >= lag2.doubleValue()
              val prev = st.trend
              val t = if (xup) 1.0 else if (xdn) 0.0 else prev
              st.trend = t
              Seq(
                Double.box(t),
                Double.box(if (t == 1.0 && prev == 0.0) 1.0 else 0.0),
                Double.box(if (t == 0.0 && prev == 1.0) 1.0 else 0.0))
            case "long_run" =>
              val fInc = v1 != null && lag1 != null && v1.doubleValue() - lag1.doubleValue() > 0
              val sInc = v2 != null && lag2 != null && v2.doubleValue() - lag2.doubleValue() > 0
              val sDec = v2 != null && lag2 != null && v2.doubleValue() - lag2.doubleValue() < 0
              Seq(Double.box(if ((fInc && sDec) || (fInc && sInc)) 1.0 else 0.0))
            case _ => // short_run
              val fDec = v1 != null && lag1 != null && v1.doubleValue() - lag1.doubleValue() < 0
              val sInc = v2 != null && lag2 != null && v2.doubleValue() - lag2.doubleValue() > 0
              val sDec = v2 != null && lag2 != null && v2.doubleValue() - lag2.doubleValue() < 0
              Seq(Double.box(if ((fDec && sInc) || (fDec && sDec)) 1.0 else 0.0))
          }
          st.ring1(slot) = v1
          if (nCols == 2) st.ring2(slot) = v2
          cnt += 1
          out += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
            (r.toSeq ++ sig).toArray, outSchema)
        }
      }
      gs.update(st.copy(lastTs = lastTs, cnt = cnt))
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    rows
      .groupByKey(_.getString(keyIdx))
      .flatMapGroupsWithState(OutputMode.Append(), idleTimeout(ttl))(withIdleTtl(ttl)(step))
  }

  // ------------------------------------------- lookahead kinds, delayed
  /** Streaming for the two LOOKAHEAD indicator kinds — ichimoku (whose
    * chikou span `ics_t = close_{t+shiftN}` reads the future; every other
    * ichimoku column is causal) and centered dpo
    * (`dpo_t = close_t − sma_{t+⌊n/2⌋+1}`): row t's values are fully
    * determined once tick t+K arrives, so the stream emits row t COMPLETE
    * at tick t+K — an explicit emit-with-latency-K contract instead of the
    * blanket "not streamable" exclusion. The stream head's most recent K
    * rows are pending (exactly the rows whose lookahead columns batch
    * leaves null at the frame tail); they emit as later ticks land, so an
    * unbounded stream emits every row exactly once. Late ticks across
    * micro-batches are dropped under the same in-order contract as
    * [[kernelBatchStream]] (conf `spark.graft.stream.latePolicy`).
    *
    * Emitted rows equal the batch computation row-for-row on the emitted
    * prefix (IchimokuStreamSpec); max/min/mean arithmetic matches the
    * batch window fold exactly (max/min are order-exact; the sma sums in
    * frame order). State per series: O(spanB + K) doubles. */
  def ichimokuStream(
      ticks: Dataset[BarTick],
      tenkanN: Int = 9,
      kijunN: Int = 26,
      spanBN: Int = 52,
      shiftN: Int = 26
  ): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    require(
      tenkanN >= 1 && kijunN >= 1 && shiftN >= 1 && spanBN >= math.max(tenkanN, kijunN),
      s"ichimokuStream: need spanBN >= max(tenkanN, kijunN) and positive lengths " +
        s"(got tenkan=$tenkanN kijun=$kijunN spanB=$spanBN shift=$shiftN) — the " +
        "spanB ring backs all three midprice windows")
    val outSchema = StructType(Seq(
      StructField("series_id", StringType), StructField("ts", LongType),
      dblField(s"its_$tenkanN"), dblField(s"iks_$kijunN"),
      dblField(s"isa_$tenkanN"), dblField(s"isb_$kijunN"), dblField(s"ics_$kijunN")))
    val spark = ticks.sparkSession
    import spark.implicits._
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)

    // flat-array state: kryo's FieldSerializer skips Scala collections'
    // custom (writeObject) serialization, so state must be primitive/object
    // ARRAYS (same rule as every NRing-family stage)
    val pcap = shiftN + 1
    case class St(
        lastTs: Long,
        cnt: Long, // bars seen (rings index off this)
        highs: Array[Double], lows: Array[Double], // spanBN rings
        isaRaw: Array[java.lang.Double], isbRaw: Array[java.lang.Double], // shiftN rings
        pts: Array[Long], // pending ring, pcap
        pits: Array[java.lang.Double], piks: Array[java.lang.Double],
        pisa: Array[java.lang.Double], pisb: Array[java.lang.Double],
        var pn: Int // pending count (head = (cnt - pn) % pcap)
    )
    def freshSt = St(
      Long.MinValue, 0L,
      new Array[Double](spanBN), new Array[Double](spanBN),
      new Array[java.lang.Double](shiftN), new Array[java.lang.Double](shiftN),
      new Array[Long](pcap),
      new Array[java.lang.Double](pcap), new Array[java.lang.Double](pcap),
      new Array[java.lang.Double](pcap), new Array[java.lang.Double](pcap),
      0)
    implicit val stEnc: Encoder[St] = Encoders.kryo[St]

    def step(key: String, rows: Iterator[BarTick], gs: GroupState[St]): Iterator[Row] = {
      var st = gs.getOption.getOrElse(freshSt)
      var lastTs = st.lastTs
      var cnt = st.cnt
      var pn = st.pn
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      def mid(ring: Array[Double], ring2: Array[Double], n: Int): java.lang.Double =
        if (cnt + 1 < n) null
        else {
          var mx = Double.NegativeInfinity; var mn = Double.PositiveInfinity
          var i = 0L
          val lo = cnt + 1 - n
          while (lo + i <= cnt) {
            val j = ((lo + i) % spanBN).toInt
            if (ring(j) > mx) mx = ring(j)
            if (ring2(j) < mn) mn = ring2(j)
            i += 1
          }
          Double.box((mx + mn) / 2.0)
        }
      rows.toSeq.sortBy(_.ts).foreach { t =>
        if (t.ts > lastTs) {
          lastTs = t.ts
          val slot = (cnt % spanBN).toInt
          st.highs(slot) = t.high; st.lows(slot) = t.low
          val its = mid(st.highs, st.lows, tenkanN)
          val iks = mid(st.highs, st.lows, kijunN)
          val isb0 = mid(st.highs, st.lows, spanBN)
          val isa0: java.lang.Double =
            if (its == null || iks == null) null
            else Double.box((its.doubleValue() + iks.doubleValue()) / 2.0)
          // shift(+shiftN): this row's isa/isb = raw from shiftN rows back
          val rslot = (cnt % shiftN).toInt
          val isa: java.lang.Double = if (cnt >= shiftN) st.isaRaw(rslot) else null
          val isb: java.lang.Double = if (cnt >= shiftN) st.isbRaw(rslot) else null
          st.isaRaw(rslot) = isa0; st.isbRaw(rslot) = isb0
          val pslot = (cnt % pcap).toInt
          st.pts(pslot) = t.ts
          st.pits(pslot) = its; st.piks(pslot) = iks
          st.pisa(pslot) = isa; st.pisb(pslot) = isb
          pn += 1
          if (pn == pcap) {
            // row (cnt - shiftN) completes: its chikou is THIS tick's close
            val h = ((cnt - shiftN) % pcap).toInt
            out += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              Array[Any](key, st.pts(h), st.pits(h), st.piks(h), st.pisa(h), st.pisb(h),
                Double.box(t.close)), outSchema)
            pn -= 1
          }
          cnt += 1
        }
      }
      gs.update(st.copy(lastTs = lastTs, cnt = cnt, pn = pn))
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    ticks.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), idleTimeout(ttl))(withIdleTtl(ttl)(step))
  }

  /** Centered dpo (`dpo_t = close_t − sma_{t+K}`, K = ⌊n/2⌋+1) under the
    * same emit-with-latency-K contract as [[ichimokuStream]]. */
  def dpoCenteredStream(ticks: Dataset[BarTick], n: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val k = n / 2 + 1
    val outSchema = StructType(Seq(
      StructField("series_id", StringType), StructField("ts", LongType), dblField(s"dpo_$n")))
    val spark = ticks.sparkSession
    import spark.implicits._
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)

    // flat-array state (kryo cannot round-trip Scala collections' custom
    // serialization — same rule as ichimokuStream)
    val pcap = k + 1
    case class St(
        lastTs: Long, cnt: Long,
        closes: Array[Double], // n-ring for the sma
        pts: Array[Long], pcls: Array[Double], // pending ring, pcap
        var pn: Int
    )
    def freshSt = St(
      Long.MinValue, 0L, new Array[Double](n), new Array[Long](pcap), new Array[Double](pcap), 0)
    implicit val stEnc: Encoder[St] = Encoders.kryo[St]

    def step(key: String, rows: Iterator[BarTick], gs: GroupState[St]): Iterator[Row] = {
      val st = gs.getOption.getOrElse(freshSt)
      var lastTs = st.lastTs
      var cnt = st.cnt
      var pn = st.pn
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      rows.toSeq.sortBy(_.ts).foreach { t =>
        if (t.ts > lastTs) {
          lastTs = t.ts
          st.closes((cnt % n).toInt) = t.close
          // frame-order (oldest->newest) sum, min_periods gate — the batch
          // rmean fold exactly
          val sma: java.lang.Double =
            if (cnt + 1 < n) null
            else {
              var s = 0.0; var i = 0L
              val lo = cnt + 1 - n
              while (lo + i <= cnt) { s += st.closes(((lo + i) % n).toInt); i += 1 }
              Double.box(s / n)
            }
          val pslot = (cnt % pcap).toInt
          st.pts(pslot) = t.ts; st.pcls(pslot) = t.close
          pn += 1
          if (pn == pcap) {
            val h = ((cnt - k) % pcap).toInt
            val v: Any =
              if (sma == null) null else Double.box(st.pcls(h) - sma.doubleValue())
            out += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              Array[Any](key, st.pts(h), v), outSchema)
            pn -= 1
          }
          cnt += 1
        }
      }
      gs.update(st.copy(lastTs = lastTs, cnt = cnt, pn = pn))
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    ticks.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), idleTimeout(ttl))(withIdleTtl(ttl)(step))
  }

  /** Stream-static AS-OF enrichment (round 5, §2.E streaming): each
    * streamed tick picks up the most recent STATIC right row with
    * rts ≤ tick.ts for its key — the trades⋈quotes alignment with the
    * dimension side broadcast (sorted per key once, binary-searched per
    * tick, O(log n) per event and zero stream-side shuffle). The right
    * side is a dimension by assumption — it fits in a broadcast like
    * every star-schema dim; for fact-fact temporal joins use the batch
    * AsofJoin after landing. Row-for-row parity with
    * `AsofJoin.asof(direction = "backward")` is spec-asserted.
    *
    * The dimension assumption is ENFORCED, not assumed: the right side
    * is counted (one cheap aggregate — it is about to be collected
    * anyway) and rejected above `maxDimRows` BEFORE the collect, so a
    * fact table handed in by mistake fails loudly with a pointer to the
    * batch path instead of OOMing the driver. The default ceiling
    * (5M rows ≈ 3 × 24B ≈ 120 MB collected) matches the broadcast-dim
    * scale this operator is designed for. */
  def asofEnrichStream(
      ticks: Dataset[Tick],
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      outCol: String,
      maxDimRows: Long = 5000000L
  ): DataFrame = {
    val spark = right.sparkSession
    val nRight = right.count()
    require(
      nRight <= maxDimRows,
      s"asofEnrichStream right side has $nRight rows (> maxDimRows=$maxDimRows): it is collected to " +
        "the driver and broadcast, which only a DIMENSION survives. For fact-fact temporal joins, " +
        "land the stream and use batch graft.plans.AsofJoin.asof; or raise maxDimRows explicitly " +
        "if the driver genuinely has the memory."
    )
    val dim: Map[String, (Array[Long], Array[Double])] = right
      .select(col(keyCol).cast("string"), col(tsCol).cast("long"), col(valueCol).cast("double"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        val sorted = rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
        k -> ((sorted.map(_._1), sorted.map(_._2)))
      }
    val b = spark.sparkContext.broadcast(dim)
    import ticks.sparkSession.implicits._
    ticks
      .map { t =>
        val v: Option[Double] = b.value.get(t.series_id).flatMap { case (tss, vs) =>
          var lo = 0; var hi = tss.length - 1; var ans = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (tss(mid) <= t.ts) { ans = mid; lo = mid + 1 } else hi = mid - 1
          }
          if (ans >= 0) Some(vs(ans)) else None
        }
        (t.series_id, t.ts, t.close, v)
      }
      .toDF("series_id", "ts", "close", outCol)
  }

  /** One LSH band-bucket hit for a streaming document. */
  case class BandHit(bucket: String, doc_id: Long)

  /** A streamed near-dup candidate pair: b_id arrived after a_id and
    * collided with it in `bucket`. */
  case class CandPair(bucket: String, a_id: Long, b_id: Long)

  /** Streaming MinHash-LSH near-dup candidates: each arriving doc is
    * signature-banded with the SAME TextOps expressions the batch
    * `Dedup.minhashLshPairs` uses, and per band-bucket state emits a
    * candidate pair against every earlier member — the batch bucket
    * self-join unrolled over arrival order, so the streamed pair set is
    * EXACTLY the batch candidate set (spec-asserted). Exact-similarity
    * verification stays a downstream batch join (a stream must flag
    * before seeing the future; candidates are its honest output).
    *
    * Scale: state per bucket is member ids capped at `maxBucket` (the
    * hot-bucket guard batch mode applies via maxDf); shuffle is one hash
    * exchange on bucket — docs × bands rows, constant per doc. BUCKET
    * cardinality is unbounded over the stream's lifetime, so the idle
    * TTL (`spark.graft.stream.idleTtl`) applies here too: a bucket idle
    * past the TTL forgets its members, and candidates spanning a silence
    * longer than the TTL are not flagged — bounded-horizon dedup, the
    * explicit trade for bounded state. */
  def neardupCandidatesStream(
      docs: DataFrame,
      k: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      maxBucket: Int = 64
  ): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs
      .select(
        col("doc_id").cast("long").as("doc_id"),
        graft.extensions.TextOps.minhashSig(col("text"), k).as("sig")
      )
      .where(col("sig").isNotNull)
    val banded = sig
      .select(
        col("doc_id"),
        explode(
          array((0 until bands).map { b =>
            concat(
              lit(s"$b:"),
              concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).cast("array<string>"))
            )
          }: _*)
        ).as("bucket")
      )
      .as[BandHit]

    def step(
        bucket: String,
        rows: Iterator[BandHit],
        gs: GroupState[Array[Long]]
    ): Iterator[CandPair] = {
      var members = gs.getOption.getOrElse(Array.empty[Long])
      val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        if (!members.contains(r.doc_id) && members.length < maxBucket) {
          members.foreach(m => out += CandPair(bucket, m, r.doc_id))
          members = members :+ r.doc_id
        }
      }
      gs.update(members)
      out.iterator
    }

    val ttl = idleTtlMs(spark)
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(), idleTimeout(ttl))(withIdleTtl(ttl)(step))
  }

  /** Streaming exact dedup: keep the first occurrence of each text hash.
    * Watermark bounds the state for late data at scale. */
  def dedupStream(docs: DataFrame, eventTimeCol: String, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", sha2(col("text"), 256))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicates("text_hash")

  // ------------------------------------------------- streaming sessions
  case class SessEvent(user_id: Long, ts_us: Long)
  case class SessionState(start_us: Long, end_us: Long, n_events: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Streaming sessionization (the live twin of Q50): a session closes
    * when the per-user gap exceeds `gapUs`. Closure is detected two ways —
    * by the user's own next event (exact, batch-identical split), or by
    * EVENT-TIME TIMEOUT once the watermark passes session_end + gap (the
    * session can never be extended after that, so emitting it early is
    * still batch-identical). State per user is one (start, end, n) triple
    * — O(keys) bytes, not O(events); the shuffle is the same user_id hash
    * exchange the batch window pass uses. Same per-key in-order arrival
    * contract as `indicators` (global event-time-ordered ingestion gives
    * it for free). Emitted session splits equal the batch
    * lag/sum-over-window computation row-for-row (spec-asserted). */
  def sessionsStream(
      events: Dataset[SessEvent],
      gapUs: Long = 30L * 60L * 1000000L
  ): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._

    def step(
        key: Long,
        rows: Iterator[SessEvent],
        gs: GroupState[SessionState]
    ): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      if (gs.hasTimedOut) {
        gs.getOption.foreach(st => out += SessionOut(key, st.start_us, st.end_us, st.n_events))
        gs.remove()
      } else {
        var st = gs.getOption
        rows.toSeq.sortBy(_.ts_us).foreach { e =>
          st = st match {
            case Some(s0) if e.ts_us - s0.end_us > gapUs =>
              out += SessionOut(key, s0.start_us, s0.end_us, s0.n_events)
              Some(SessionState(e.ts_us, e.ts_us, 1L))
            case Some(s0) => Some(s0.copy(end_us = e.ts_us, n_events = s0.n_events + 1L))
            case None     => Some(SessionState(e.ts_us, e.ts_us, 1L))
          }
        }
        st.foreach { s0 =>
          gs.update(s0)
          // fire once the watermark proves no in-gap event can still come;
          // must stay strictly ahead of the current watermark or Spark
          // rejects the registration
          gs.setTimeoutTimestamp(
            math.max(s0.end_us / 1000L + gapUs / 1000L, gs.getCurrentWatermarkMs + 1L)
          )
        }
      }
      out.iterator
    }

    events
      .withColumn("etime", timestamp_micros(col("ts_us")))
      .withWatermark("etime", "0 seconds")
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(step)
  }

  // ------------------------------------------- streaming decontamination
  /** Continuous-ingest decontamination: incoming documents check
    * themselves against a STATIC eval/benchmark corpus as they arrive.
    *
    * The eval side collapses to ONE row holding its distinct k-gram set
    * (benchmark corpora are small by definition — the same asymmetry
    * `Dedup.contamination` exploits), broadcast into a stream-static
    * cross join; each arriving doc then intersects map-side. Fully
    * STATELESS — no watermark, no state store, append mode, zero stream-
    * side shuffles — so throughput is the scan rate. Hit counts equal the
    * batch operator's posting-join numbers row-for-row (spec-asserted):
    * |sh ∩ evalSet| computed by intersect here ≡ the per-doc count of
    * matching postings there. */
  def contaminationStream(
      docs: DataFrame,
      eval: DataFrame,
      k: Int = 5,
      minHits: Long = 1L
  ): DataFrame = {
    val evalGrams = broadcast(
      eval
        .select(col("doc_id"), graft.extensions.TextOps.tokens(col("text")).as("__tk"))
        .select(graft.extensions.TextOps.shingleSetFromTokens(col("__tk"), k).as("sh"))
        .agg(array_distinct(flatten(collect_list(col("sh")))).as("__es"))
    )
    docs
      .select(col("doc_id"), graft.extensions.TextOps.tokens(col("text")).as("__tk"))
      .select(col("doc_id"), graft.extensions.TextOps.shingleSetFromTokens(col("__tk"), k).as("__sh"))
      .crossJoin(evalGrams)
      .select(
        col("doc_id"),
        size(array_intersect(col("__sh"), col("__es"))).cast("long").as("n_hits"),
        size(col("__sh")).cast("long").as("n_grams")
      )
      .where(col("n_hits") >= minHits)
      .withColumn("frac", col("n_hits").cast("double") / col("n_grams"))
  }

  // ------------------------------------------- streaming quality scoring
  /** Continuous-ingest curation gate: score arriving documents with the
    * PRE-TRAINED quality classifier (Classify.logRegTrain runs batch-side
    * on a snapshot; the d weights travel as a literal) and carry the
    * normalized-text hash for downstream exact dedup. Fully STATELESS —
    * pure map-side expressions, no watermark, no state store, append
    * mode — so throughput is the scan rate; identical expressions to the
    * batch path means row-for-row parity (spec-asserted). */
  /** Stateless IVF cell assignment over an embedding stream: the trained
    * coarse centroids travel as literals (nCells·d doubles), assignment
    * is an argmax over broadcast dots per row — the online half of
    * incremental index maintenance ([[graft.extensions.Similarity.ivfAppend]]):
    * vectors arrive, get a cell, land in the cell-partitioned layout;
    * the corpus is never touched. Same (sim desc, cell asc) tie-break as
    * the batch path, and the same codegen'd dot — assignments are
    * row-for-row the batch ivfAppend's is_new side. */
  def cellAssignStream(vecs: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    graft.functions.Registry.register(vecs.sparkSession)
    val entries = cents.map { case (c, ct) =>
      struct(
        (lit(-1.0) * graft.extensions.Similarity.dot(col("embedding"), typedLit(ct))).as("nd"),
        lit(c).as("c")
      )
    }
    val best = array_min(array(entries: _*))
    vecs.select(
      col("vec_id"),
      col("embedding"),
      best.getField("c").as("cell"),
      (lit(-1.0) * best.getField("nd")).as("csim")
    )
  }

  /** Stateless PII scan over a document stream: per-class regex counts +
    * the redacted text's hash, pure map-side per micro-batch — the
    * privacy gate a streaming ingest runs before anything is persisted.
    * Row-for-row the batch x_pii projection (the batch query IS this
    * function over a static frame). */
  def piiScanStream(docs: DataFrame): DataFrame = {
    import graft.extensions.TextOps
    graft.functions.Registry.register(docs.sparkSession)
    docs
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(TextOps.PiiEmail)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(TextOps.PiiPhone)).cast("long").as("n_phone"),
        regexp_count(col("text"), lit(TextOps.PiiIp)).cast("long").as("n_ip"),
        TextOps.polyHash(TextOps.piiRedact(col("text"))).as("red_hash")
      )
      .withColumn("n_pii", (col("n_email") + col("n_phone") + col("n_ip")).cast("long"))
      .withColumn("has_pii", col("n_pii") > 0)
      .select("doc_id", "n_email", "n_phone", "n_ip", "n_pii", "has_pii", "red_hash")
  }

  def qualityScoreStream(docs: DataFrame, weights: Array[Double], keepAbove: Double): DataFrame = {
    val norm = graft.extensions.TextOps.normalizeText(col("text"))
    graft.extensions.Classify
      .score(docs, weights)
      .select(
        col("doc_id"),
        col("score"),
        (col("score") >= keepAbove).as("keep"),
        graft.extensions.TextOps.polyHash(norm).as("norm_hash")
      )
  }

  /** Stateless TracIn influence over a document stream: the trained
    * model (weights + mean target gradient, 2·d doubles) travels as
    * literals, scoring is pure map-side — the continuous-ingest shape
    * for "is this incoming doc helpful" admission control. Row-for-row
    * equal to the batch tracinInfluence under the same (w, ḡ). */
  def influenceStream(
      docs: DataFrame,
      isTarget: org.apache.spark.sql.Column,
      weights: Array[Double],
      gval: Array[Double]
  ): DataFrame =
    graft.extensions.Classify
      .influenceScore(graft.extensions.Classify.featuresOf(docs, isTarget), weights, gval)

  /** Stateless BPE token accounting over a document stream: the trained
    * merge list travels inside the codegen'd segmentation kernel (a few
    * KB of literals), so each micro-batch is a pure map — the
    * tokens-per-byte meter a streaming ingest pipeline runs before
    * admission. Per-doc word/char/BPE-symbol counts, row-for-row equal
    * to Bpe.encode's pre-join projection on the same merges. */
  def bpeCountStream(docs: DataFrame, merges: Seq[graft.extensions.Bpe.Merge]): DataFrame = {
    graft.functions.Registry.register(docs.sparkSession)
    val words = graft.extensions.Bpe.streamWords(col("text"))
    val syms = transform(words, w => size(graft.extensions.Bpe.segmentCol(w, merges)).cast("long"))
    docs.select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      aggregate(transform(words, w => length(w).cast("long")), lit(0L), (a, x) => a + x).as("n_chars"),
      aggregate(syms, lit(0L), (a, x) => a + x).as("n_bpe")
    )
  }

  /** Stream–stream interval join: last-hour view→purchase attribution
    * candidates. Each purchase joins every view by the same user in the
    * strictly-preceding `horizon` — the Structured Streaming
    * stream-stream join with event-time bounds on BOTH sides, so state
    * for either side is dropped once the watermark passes its horizon
    * (bounded state, the thing an unconstrained stream join lacks).
    * Semantics are exactly `RangeJoin.within(purchases, views, lower =
    * horizon, upper = −1)` on the same frame — batch parity spec-gated
    * (StreamingParitySpec). Downstream last-touch/dedup is a separate
    * stateful stage; this operator emits the candidate pair stream. */
  def attributionStream(events: DataFrame, horizonSec: Long = 3600L, watermark: String = "1 day"): DataFrame = {
    val views = events
      .where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("tstamp").as("v_ts"))
      .withWatermark("v_ts", watermark)
    val purchases = events
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("tstamp").as("p_ts"))
      .withWatermark("p_ts", watermark)
    purchases
      .join(
        views,
        expr(s"p_user = v_user AND v_ts >= p_ts - INTERVAL $horizonSec SECONDS AND v_ts < p_ts")
      )
      .select(col("p_user").as("user_id"), col("p_ts"), col("v_ts"))
  }

  /** Windowed PSI drift monitor over a value stream: per event-time
    * window, the Population Stability Index of the window's `valueCol`
    * distribution against a TRAINED reference (bucket edges + reference
    * shares as literals — the offline half is Mixture.psiBySource's
    * decile machinery). One watermarked groupBy(window) with a
    * conditional-sum column per bucket (single aggregate — append-mode
    * legal), PSI assembled map-side from the counts; alert at the
    * standard 0.25 cut. The streaming complement to the retrospective
    * x_psi and the per-series rec.Cusum: distribution-level drift,
    * online. Batch parity: the same function on a static frame is the
    * oracle (StreamingParitySpec). */
  def psiStream(
      events: DataFrame,
      valueCol: String,
      tsCol: String,
      edges: Seq[Double],
      refShares: Seq[Double],
      windowDur: String = "1 hour",
      watermark: String = "1 day",
      minN: Long = 100L
  ): DataFrame = {
    val nB = edges.size + 1
    require(refShares.size == nB, s"need ${nB} reference shares")
    val bucket = edges.map(e => when(col(valueCol) > lit(e), 1).otherwise(0)).reduce(_ + _)
    val counts = (0 until nB).map(i => sum(when(bucket === i, 1L).otherwise(0L)).as(s"__c$i"))
    val n = (0 until nB).map(i => col(s"__c$i")).reduce(_ + _)
    val psi = (0 until nB)
      .map { i =>
        val p = (col(s"__c$i") + lit(0.5)) / (n + lit(0.5 * nB))
        val q = lit(refShares(i))
        (p - q) * log(p / q)
      }
      .reduce(_ + _)
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(counts.head, counts.tail: _*)
      .select(
        col("w.start").as("w_start"),
        n.cast("long").as("n"),
        psi.as("psi"),
        // PSI on a handful of rows is smoothing noise, not drift — the
        // standard practice gates the alert on a minimum window count
        (psi > lit(0.25) && n >= lit(minN)).as("drift_alert")
      )
  }

  // ------------------------------------------- streaming top-k retrieval
  /** Streaming ANN SERVING: arriving query vectors probe the persisted
    * IVF index through a stream-static cell join — the serving half that
    * closes the loop with [[cellAssignStream]] (the ingestion half).
    *
    * Routing uses the trained coarse centroids as literals (nCells·d
    * doubles, zero stream-side shuffle before the candidate join) with
    * the SAME tie-break as the batch prober — cells by (csim desc,
    * cent_id asc) via the struct array_sort, neighbors by (sim desc,
    * nbr_id asc) — so output is row-for-row
    * [[graft.extensions.Similarity.topkIvfWithCents]] (spec-asserted over
    * chunked replays). Candidates meet the index on the cell key: with a
    * cell-partitioned saved index ([[graft.extensions.Similarity.saveIvfIndex]])
    * each micro-batch reads only its probed cells' files, so serving I/O
    * scales with cells probed, never corpus size.
    *
    * Per-query top-k folds in flatMapGroupsWithState with a k-bounded
    * insertion — memory per query is O(k) however many candidates the
    * cells hold. All of a query's candidates land in its own micro-batch
    * (the stream-static join is within-batch), so state is only the
    * once-emitted flag guarding against a duplicate query id arriving in
    * a later batch.
    *
    * State growth contract: with the default `dedupTtlMs = 0` the flag
    * uses NoTimeout — one Boolean per DISTINCT query id ever seen, so
    * query-id cardinality must be bounded over the stream's lifetime (or
    * the stream restarted on an id epoch). For an unbounded-id serving
    * deployment pass `dedupTtlMs > 0`: the flag switches to
    * ProcessingTimeTimeout and `state.remove()` fires after the TTL.
    * The TTL is SLIDING, not fixed: every arrival of an id — including
    * suppressed duplicates — re-arms the timeout, so an id expires (and
    * a later replay re-emits) only after `dedupTtlMs` of SILENCE. A hot
    * id replayed more often than the TTL stays deduped (and stays in
    * state) for as long as it stays hot — the deliberate trade: state
    * size is bounded by the number of ids ACTIVE within any TTL window,
    * and an id never re-emits while duplicates are still arriving. The
    * TTL path is not the test default because processing-time
    * timeouts schedule future batches, which makes the deterministic
    * `processAllAvailable` replay used by the parity spec block. */
  def topkIvfStream(
      queries: DataFrame,
      index: DataFrame,
      cents: Seq[(Long, Seq[Double])],
      k: Int,
      nprobe: Int,
      dedupTtlMs: Long = 0L
  ): DataFrame = {
    graft.functions.Registry.register(queries.sparkSession)
    import queries.sparkSession.implicits._
    val entries = cents.map { case (cid, ct) =>
      struct(
        (lit(-1.0) * graft.extensions.Similarity.dot(col("embedding"), typedLit(ct))).as("nd"),
        lit(cid).as("c")
      )
    }
    val probes = queries
      .select(
        col("vec_id").as("q_id"),
        col("embedding").as("q_emb"),
        explode(slice(array_sort(array(entries: _*)), 1, nprobe)).as("pr")
      )
      .select(col("q_id"), col("q_emb"), col("pr.c").as("cell"))
    val cand = probes
      .join(index.select(col("vec_id"), col("embedding"), col("cell")), "cell")
      .where(col("q_id") =!= col("vec_id"))
      .select(
        col("q_id"),
        col("vec_id").as("nbr_id"),
        graft.extensions.Similarity.dot(col("q_emb"), col("embedding")).as("sim")
      )
      .as[(Long, Long, Double)]
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ord = Ordering.by[(Long, Double), (Double, Long)] { case (id, s) => (-s, id) }
    cand
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append(),
        if (dedupTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
      )(
        (q: Long, it: Iterator[(Long, Long, Double)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            if (dedupTtlMs > 0) state.setTimeoutDuration(dedupTtlMs)
            Iterator.empty
          } else {
            state.update(true)
            if (dedupTtlMs > 0) state.setTimeoutDuration(dedupTtlMs)
            var buf = Vector.empty[(Long, Double)] // sorted by (sim desc, id asc), ≤ k
            it.foreach { case (_, id, s) =>
              val t = (id, s)
              if (buf.size < k || ord.lt(t, buf.last)) {
                val i = buf.indexWhere(b => ord.lt(t, b))
                buf = (if (i < 0) buf :+ t else (buf.take(i) :+ t) ++ buf.drop(i)).take(k)
              }
            }
            buf.iterator.zipWithIndex.map { case ((id, s), i) => (q, i + 1, id, s) }
          }
      )
      .toDF("q_id", "rk", "nbr_id", "sim")
  }
}
