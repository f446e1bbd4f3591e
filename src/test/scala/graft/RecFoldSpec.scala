package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField}
import graft.ta.{rec, RecKernels, Ta}
import graft.ta.Ta._

/** Round-9 REC fold lowering: the struct window folds
  * (functions.RecFolds) must equal the mapPartitions kernel spellings
  * (rec.Psar, rec.Supertrend) ROW-FOR-ROW at full double precision,
  * across series boundaries (kernel reset ≡ window partition) and
  * through both reversal branches. The kernels are the retained spec
  * references — this proof is what lets the accessor and the strategy
  * compiler run the folds (one Exchange shared with the W class)
  * while streaming keeps the kernels.
  */
class RecFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Three series of jagged OHLC bars engineered to flip the psar trend
    * and the supertrend direction repeatedly (sin/cos walks with
    * different phases per series + a sawtooth kicker). */
  private def bars = {
    import spark.implicits._
    val rows = for {
      (sid, phase) <- Seq(("A", 0.0), ("B", 1.3), ("C", 2.6))
      t <- 1 to 90
    } yield {
      val base = 100.0 + 15.0 * math.sin(t / 6.0 + phase) + (t % 11) - 5.0
      val hi = base + 1.0 + math.abs(math.cos(t / 3.0 + phase)) * 2.0
      val lo = base - 1.0 - math.abs(math.sin(t / 4.0 + phase)) * 2.0
      val cl = lo + (hi - lo) * (0.2 + 0.6 * ((t * 7 % 10) / 10.0))
      (sid, t.toLong, (hi + lo) / 2.0, hi, lo, cl, 1000.0 + t)
    }
    rows.toDF("series_id", "ts", "open", "high", "low", "close", "volume")
  }

  private def dbl(name: String) = StructField(name, DoubleType, nullable = true)
  private def intF(name: String) = StructField(name, IntegerType, nullable = true)

  private def collectCols(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[Seq[Option[Any]]] =
    df.orderBy("series_id", "ts")
      .select(cols.map(col): _*)
      .collect()
      .toSeq
      .map(r => cols.indices.map(i => if (r.isNullAt(i)) None else Some(r.get(i))))

  private def assertSame(
      kernel: Seq[Seq[Option[Any]]], fold: Seq[Seq[Option[Any]]], cols: Seq[String]): Unit = {
    assert(kernel.size == fold.size)
    kernel.zip(fold).zipWithIndex.foreach { case ((k, f), i) =>
      cols.indices.foreach { j =>
        assert(k(j) == f(j), s"row $i col ${cols(j)}: kernel ${k(j)} != fold ${f(j)} (exact compare)")
      }
    }
  }

  test("psar fold == rec.Psar kernel, bit-exact, all four outputs, multi-series") {
    Graft.init(spark)
    val cols = Seq("psar_long", "psar_short", "psar_af", "psar_reversal")
    val kernel = rec.perSeries(
      bars,
      Seq(dbl("psar_long"), dbl("psar_short"), dbl("psar_af"), intF("psar_reversal"))
    )(() => new RecKernels.Psar(0.02, 0.02, 0.2))
    val fold = bars.ta.psar()
    assertSame(collectCols(kernel, cols), collectCols(fold, cols), cols)
    // sanity: the fixture actually exercises reversals in every series
    val revs = fold.groupBy("series_id").agg(sum("psar_reversal").as("r"))
      .collect().map(r => r.getAs[Long]("r"))
    assert(revs.forall(_ >= 3), s"fixture too tame: reversals per series = ${revs.mkString(",")}")
  }

  test("supertrend fold == rec.Supertrend kernel, bit-exact, all four outputs, multi-series") {
    Graft.init(spark)
    val n = 7
    val cols = Seq(s"supert_$n", s"supertd_$n", s"supertl_$n", s"superts_$n")
    val kernel = rec.perSeries(
      bars,
      Seq(dbl(s"supert_$n"), intF(s"supertd_$n"), dbl(s"supertl_$n"), dbl(s"superts_$n"))
    )(() => new RecKernels.Supertrend(n, 3.0))
    val fold = bars.ta.supertrend(n, 3.0)
    assertSame(collectCols(kernel, cols), collectCols(fold, cols), cols)
    // both directions must occur
    val dirs = fold.select(s"supertd_$n").where(col(s"supertd_$n").isNotNull)
      .distinct().collect().map(_.getInt(0)).toSet
    assert(dirs == Set(1, -1), s"fixture too tame: directions seen = $dirs")
  }

  /** Close-only frame with nulls for the null-threading kernels. */
  private def nullClose = {
    import spark.implicits._
    val a = (1 to 80).map(t => ("A", t.toLong, Some(100.0 + 10 * math.sin(t / 5.0) + (t % 7))))
    val b = (1 to 80).map { t =>
      val v =
        if (t <= 3 || t == 10 || t == 25 || t == 40) None
        else Some(50.0 + 5 * math.cos(t / 3.0) + (t % 5))
      ("B", t.toLong, v)
    }
    (a ++ b).toDF("series_id", "ts", "close")
  }

  test("wave-2 folds == their kernels, bit-exact: ha, td_seq, ebsw, hwc, rsx (bars)") {
    Graft.init(spark)
    // ha (struct, 4 outputs)
    val haCols = Seq("ha_open", "ha_high", "ha_low", "ha_close")
    val haKernel = rec.perSeries(bars, haCols.map(dbl))(() => new RecKernels.HeikinAshi)
    assertSame(collectCols(haKernel, haCols), collectCols(bars.ta.ha, haCols), haCols)
    // td_seq (struct, long outputs; kernel consumes staged __c4)
    val tdCols = Seq("td_seq_up", "td_seq_dn")
    val tdKernel = rec.perSeries(
      bars.withColumn("__c4", graft.ta.prim.shift(col("close"), 4)),
      tdCols.map(n => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType, nullable = true))
    )(() => new RecKernels.TdSeq).drop("__c4")
    assertSame(collectCols(tdKernel, tdCols), collectCols(bars.ta.tdSeq, tdCols), tdCols)
    // ebsw
    val ebKernel = rec.perSeries(bars, Seq(dbl("ebsw_20")))(() => new RecKernels.Ebsw(20, 10))
    assertSame(
      collectCols(ebKernel, Seq("ebsw_20")), collectCols(bars.ta.ebsw(20, 10), Seq("ebsw_20")), Seq("ebsw_20"))
    // hwc (struct)
    val hwcCols = Seq("hwc_mid", "hwc_upper", "hwc_lower")
    val hwcKernel = rec.perSeries(bars, hwcCols.map(dbl))(() => new RecKernels.Hwc(0.2, 0.1, 0.1, 0.1, 1.0))
    assertSame(collectCols(hwcKernel, hwcCols), collectCols(bars.ta.hwc(), hwcCols), hwcCols)
    // rsx — twelve named filter slots, the "ring buffer" that wasn't
    val rsxKernel = rec.perSeries(bars, Seq(dbl("rsx_10")))(() => new RecKernels.Rsx(10))
    assertSame(
      collectCols(rsxKernel, Seq("rsx_10")), collectCols(bars.ta.rsx(10), Seq("rsx_10")), Seq("rsx_10"))
  }

  test("hwc strategy lowering honors user nd/k params (ADVICE round-9)") {
    Graft.init(spark)
    import graft.ta.{registry, IndicatorSpec, Strategy}
    val hwcCols = Seq("hwc_mid", "hwc_upper", "hwc_lower")
    // non-default nd/k must reach the fold — before the fix these were
    // hard-coded 0.1/1.0 and the channel width ignored the spec params
    val want = collectCols(bars.ta.hwc(0.2, 0.1, 0.1, 0.05, 1.65), hwcCols)
    val got = registry.strategy(
      bars,
      Strategy("hwc-params", Seq(IndicatorSpec("hwc", Map("nd" -> 0.05, "k" -> 1.65))))
    )
    assertSame(want, collectCols(got, hwcCols), hwcCols)
  }

  test("wave-2 folds == their kernels, bit-exact with nulls: mcgd, ssf, hwma, kalman") {
    Graft.init(spark)
    val nf = nullClose
    val mKernel = rec.perSeries(nf, Seq(dbl("mcgd_10")))(() => new RecKernels.Mcgd(10, "close"))
    assertSame(
      collectCols(mKernel, Seq("mcgd_10")), collectCols(nf.ta.mcgd(10), Seq("mcgd_10")), Seq("mcgd_10"))
    val sKernel = rec.perSeries(nf, Seq(dbl("ssf_10")))(() => new RecKernels.Ssf(10, "close"))
    assertSame(
      collectCols(sKernel, Seq("ssf_10")), collectCols(nf.ta.ssf(10), Seq("ssf_10")), Seq("ssf_10"))
    val hKernel = rec.perSeries(nf, Seq(dbl("hwma")))(() => new RecKernels.Hwma(0.2, 0.1, 0.1, "close"))
    assertSame(
      collectCols(hKernel, Seq("hwma")), collectCols(nf.ta.hwma(), Seq("hwma")), Seq("hwma"))
    val kCols = Seq("kf", "kf_gain")
    val kKernel = rec.perSeries(nf, kCols.map(dbl))(() => new RecKernels.Kalman(0.01, 1.0, "close"))
    assertSame(collectCols(kKernel, kCols), collectCols(nf.ta.kalman(), kCols), kCols)
  }

  test("wave-3 folds == their kernels, bit-exact: hilo, fisher, qqe (staged inputs)") {
    import graft.ta.{prim => P, stage}
    Graft.init(spark)
    // hilo: staged MA bands + the HiloFold state machine
    val hiloCols = Seq("hilo", "hilo_long", "hilo_short")
    val hiloStaged = bars
      .withColumn("__mh", P.rmean(col("high"), 13))
      .withColumn("__ml", P.rmean(col("low"), 21))
    val hiloKernel = rec.perSeries(hiloStaged, hiloCols.map(dbl))(() => new RecKernels.Hilo)
    assertSame(collectCols(hiloKernel, hiloCols), collectCols(bars.ta.hilo(13, 21), hiloCols), hiloCols)
    // fisher: staged range position + FisherFold
    val fishCols = Seq("fisher_9", "fisher_signal_9")
    val m = (col("high") + col("low")) / 2.0
    val hh = P.rmax(m, 9); val ll = P.rmin(m, 9)
    val fishStaged = bars.withColumn("__pos", lit(2.0) * (P.sdiv(m - ll, hh - ll) - 0.5))
    val fishKernel = rec.perSeries(fishStaged, fishCols.map(dbl))(() => new RecKernels.Fisher)
    assertSame(collectCols(fishKernel, fishCols), collectCols(bars.ta.fisher(9), fishCols), fishCols)
    // qqe: the full staged chain + QqeFold
    val qqeCols = Seq("qqe_6", "qqe_trend_6", "qqe_long_6", "qqe_short_6")
    val wilders = 6 * 2 - 1
    val q0 = bars.withColumn(
      "__qrsi",
      org.apache.spark.sql.functions.call_function("graft_rsi_k", col("close").cast("double"), lit(6))
        .over(P.cum))
    val q1 = stage.ema(q0, "__qrsi", "__rsima", 3)
      .withColumn("__adr", abs(P.diff(col("__rsima"))))
    val q2 = q1.withColumn("__matr", P.ewm(col("__adr"), 1.0 / wilders))
      .withColumn("__dar", P.ewm(col("__matr"), 1.0 / wilders) * 4.236)
    val qqeKernel = rec.perSeries(
      q2,
      Seq(dbl("qqe_6"), intF("qqe_trend_6"), dbl("qqe_long_6"), dbl("qqe_short_6"))
    )(() => new RecKernels.Qqe)
    assertSame(collectCols(qqeKernel, qqeCols), collectCols(bars.ta.qqe(6, 3), qqeCols), qqeCols)
  }

  test("SQL surface: graft_psar / graft_supertrend callable from pure SQL text") {
    Graft.init(spark)
    bars.createOrReplaceTempView("rf_bars")
    val out = spark.sql(
      """SELECT series_id, ts,
        |  graft_psar(high, low, close, 0.02, 0.02, 0.2).long AS psar_long,
        |  graft_supertrend(high, low, close, 7, 3.0).st AS supert_7
        |FROM rf_bars""".stripMargin)
    val viaTa = bars.ta.psar().ta.supertrend(7, 3.0)
      .select("series_id", "ts", "psar_long", "supert_7")
    val cols = Seq("psar_long", "supert_7")
    assertSame(collectCols(viaTa, cols), collectCols(out, cols), cols)
  }
}
