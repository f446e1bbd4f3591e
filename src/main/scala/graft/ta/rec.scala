package graft.ta

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** REC-class kernels (SURVEY.md §2.A REC / §4.3 tier 4): per-series
  * recursions as single-pass state machines, for the two kinds no window
  * fold expresses — jma (11/65-entry ring buffers) and cusum (fixed
  * reference: trained μ/σ as constant columns; retrospective: a
  * whole-series stats join first). Batch runs them through `perSeries` /
  * `perSeriesBatch`; `StreamingTa` streams the same kernel objects. Every
  * other recursion is a DeclarativeAggregate window fold
  * (functions.RecFolds / SeededComposites); the kernels those folds
  * replaced live in the test tree as their bit-identity references
  * (RecFoldSpec).
  *
  * Execution shape: `repartition(series_id)` + `sortWithinPartitions
  * (series_id, ts)` + `mapPartitions` — ONE shuffle (same key as every
  * window indicator, so Catalyst elides it entirely when composed after
  * the window Exchange — PlanShapeSpec), then a single streaming pass
  * per partition with O(1) state per key.
  *
  * Kernels read input fields by index resolved once per partition
  * (`init`), emit a fixed-arity Array[Any] per row, and are reset at every
  * series boundary. Nulls: kernels receive rows as-is; a null input field
  * generally emits null outputs and leaves state unchanged (pandas NaN
  * semantics), handled per kernel.
  */
object rec {

  trait Kernel extends Serializable {
    /** Resolve input column indexes once per partition. */
    def init(schema: StructType): Unit
    /** New series: clear all state. */
    def reset(): Unit
    /** One row, in ts order; returns exactly `outFields.size` values. */
    def update(row: Row): Array[Any]
  }

  /** Append `outs` columns produced by a per-series sequential kernel. */
  def perSeries(df: DataFrame, outs: Seq[StructField])(make: () => Kernel): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ outs)
    val keyIdx = inSchema.fieldIndex("series_id")
    val enc = Encoders.row(outSchema)
    df.repartition(col("series_id"))
      .sortWithinPartitions("series_id", "ts")
      .mapPartitions { it =>
        var kernel: Kernel = null
        var curKey: Any = null
        var started = false
        it.map { row =>
          val k = row.get(keyIdx)
          if (!started || k != curKey) {
            kernel = make()
            kernel.init(inSchema)
            kernel.reset()
            curKey = k
            started = true
          }
          Row.fromSeq(row.toSeq ++ kernel.update(row))
        }
      }(enc)
  }

  /** Run SEVERAL kernels in ONE repartition + sort + mapPartitions pass,
    * appending each kernel's outputs in order. A Strategy with k REC
    * indicators pays one shuffle and one sequential scan instead of k —
    * the kernels are independent per row, only their per-series state is
    * separate. Used by the Strategy batch compiler. */
  def perSeriesBatch(df: DataFrame, parts: Seq[(Seq[StructField], () => Kernel)]): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ parts.flatMap(_._1))
    val keyIdx = inSchema.fieldIndex("series_id")
    val enc = Encoders.row(outSchema)
    val makes = parts.map(_._2)
    df.repartition(col("series_id"))
      .sortWithinPartitions("series_id", "ts")
      .mapPartitions { it =>
        var kernels: Array[Kernel] = null
        var curKey: Any = null
        var started = false
        it.map { row =>
          val k = row.get(keyIdx)
          if (!started || k != curKey) {
            kernels = makes.map(_()).toArray
            var j = 0
            while (j < kernels.length) { kernels(j).init(inSchema); kernels(j).reset(); j += 1 }
            curKey = k
            started = true
          }
          val outs = scala.collection.mutable.ArrayBuffer[Any]()
          var j = 0
          while (j < kernels.length) { outs ++= kernels(j).update(row); j += 1 }
          Row.fromSeq(row.toSeq ++ outs)
        }
      }(enc)
  }

  private def d(row: Row, i: Int): Double = row.getDouble(i)
  private def isN(row: Row, i: Int): Boolean = row.isNullAt(i)

  // ===================================================================
  // Kernels. Reference paths cite the canonical upstream layout
  // (SURVEY.md §0 — checkout empty; §2.B declared specs are the contract).
  // ===================================================================

  /** Jurik MA (reference: pandas_ta/overlap/jma.py, declared from the
    * public-domain JMA recursion): adaptive volatility bands modulate the
    * smoothing power; 10-tick volatility sum with a 65-tick average.
    * Ring-buffer state — oracle is rows-only (SQL fold impractical). */
  final class Jma(n: Int = 7, phase: Double = 0.0) extends Kernel {
    private var iC = 0
    private val len1 = math.max(math.log(math.sqrt(0.5 * (n - 1))) / math.log(2.0) + 2.0, 0.0)
    private val pow1 = math.max(len1 - 2.0, 0.5)
    private val len2 = math.sqrt(0.5 * (n - 1)) * len1
    private val pr = if (phase < -100) 0.5 else if (phase > 100) 2.5 else 1.5 + phase * 0.01
    private val beta = 0.45 * (n - 1) / (0.45 * (n - 1) + 2.0)
    private var count = 0L
    private var upperBand, lowerBand, ma1, jma, det0, det1 = 0.0
    private val voltyBuf = new Array[Double](11)
    private val vsumBuf = new Array[Double](65)
    private var vSum = 0.0
    def init(schema: StructType): Unit = { iC = schema.fieldIndex("close") }
    def reset(): Unit = {
      count = 0L; vSum = 0.0
      java.util.Arrays.fill(voltyBuf, 0.0); java.util.Arrays.fill(vsumBuf, 0.0)
      det0 = 0.0; det1 = 0.0
    }
    def update(row: Row): Array[Any] = {
      val price = d(row, iC)
      count += 1
      if (count == 1L) {
        upperBand = price; lowerBand = price; ma1 = price; jma = price
        return Array(jma)
      }
      val del1 = price - upperBand
      val del2 = price - lowerBand
      val volty = if (math.abs(del1) != math.abs(del2)) math.max(math.abs(del1), math.abs(del2)) else 0.0
      voltyBuf(((count - 1) % 11).toInt) = volty
      val voltyOld = voltyBuf(((count - 1 + 11 - math.min(count - 1, 10)) % 11).toInt)
      vSum += (volty - voltyOld) / 10.0
      vsumBuf(((count - 1) % 65).toInt) = vSum
      val m = math.min(count - 1, 65L).toInt
      var s = 0.0
      var i = 0
      while (i < m) { s += vsumBuf(i); i += 1 }
      val avgVolty = if (m > 0) s / m else 0.0
      val dVolty = if (avgVolty > 0) volty / avgVolty else 0.0
      val rVolty = math.max(1.0, math.min(math.pow(len1, 1.0 / pow1), dVolty))
      val pow2 = math.pow(rVolty, pow1)
      val kv = math.pow(len2 / (len2 + 1.0), math.sqrt(pow2))
      upperBand = if (del1 > 0) price else price - kv * del1
      lowerBand = if (del2 < 0) price else price - kv * del2
      // adaptive EMA
      val alpha = math.pow(beta, pow2)
      ma1 = (1.0 - alpha) * price + alpha * ma1
      det0 = (price - ma1) * (1.0 - beta) + beta * det0
      val ma2 = ma1 + pr * det0
      det1 = (ma2 - jma) * math.pow(1.0 - alpha, 2) + alpha * alpha * det1
      jma = jma + det1
      Array(jma)
    }
  }

  /** Two-sided CUSUM changepoint detector (Page 1954) over the
    * standardized series. Consumes pre-computed per-series `__mu`/`__sd`
    * columns (rounded to 6 dp so the oracle recursion folds from
    * bit-identical inputs); state:
    *
    *   sp = max(0, sp' + (x − μ)/σ − k)    // upward drift statistic
    *   sn = max(0, sn' + (μ − x)/σ − k)    // downward drift statistic
    *   alarm = (sp > h OR sn > h); on alarm both statistics reset to 0
    *
    * Emits the pre-reset statistics so the alarm row shows the exceeding
    * value. Null x or σ∈{null,0} → null outputs, state unchanged. Not a
    * pandas-ta indicator — pipeline drift/changepoint monitoring (the
    * same recursion a data-quality monitor runs per feed). */
  final class Cusum(k: Double = 0.5, h: Double = 5.0, src: String = "close") extends Kernel {
    private var iX, iMu, iSd = 0
    private var sp, sn = 0.0
    def init(schema: StructType): Unit = {
      iX = schema.fieldIndex(src)
      iMu = schema.fieldIndex("__mu"); iSd = schema.fieldIndex("__sd")
    }
    def reset(): Unit = { sp = 0.0; sn = 0.0 }
    def update(row: Row): Array[Any] = {
      if (isN(row, iX) || isN(row, iMu) || isN(row, iSd) || d(row, iSd) == 0.0)
        return Array(null, null, null)
      val z = (d(row, iX) - d(row, iMu)) / d(row, iSd)
      sp = math.max(0.0, sp + z - k)
      sn = math.max(0.0, sn - z - k)
      val alarm = sp > h || sn > h
      val out: Array[Any] =
        Array(Double.box(sp), Double.box(sn), Long.box(if (alarm) 1L else 0L))
      if (alarm) { sp = 0.0; sn = 0.0 }
      out
    }
  }
}
