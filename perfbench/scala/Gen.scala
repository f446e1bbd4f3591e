package perfbench

import graft.streaming.StreamingTa.BarTick
import graft.ta.{IndicatorSpec, Strategy}

/** Seeded input generators. Pure: no Spark, no clock, no global state —
  * the same (seed, sizes) always gives the same inputs, so a workload's
  * inputs are a function of `--seed` alone. Every generator derives its
  * own stream from the seed with [[Gen.sub]], so adding a generator never
  * shifts the inputs of another. */
object Gen {

  /** splitmix64 finalizer: decorrelates (seed, stream) pairs. */
  def sub(seed: Long, stream: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + stream * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def uniform(): Double = r.nextDouble()
    def int(n: Int): Int = r.nextInt(n)
    /** Box-Muller; one draw per call keeps the stream position simple. */
    def gauss(): Double = {
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
    }
  }

  // ---------------------------------------------------------------- bars

  /** Per-series random walk that can be continued tick by tick (the
    * streaming generator) or drained in one call (the batch generator);
    * both yield the same ticks for the same seed. */
  final class Walk(seed: Long, val series: String) {
    private val rng = new Rng(seed)
    private var close = 50.0 + 100.0 * rng.uniform()
    private var ts = 0L
    def next(): BarTick = {
      val open = close
      close = math.max(1.0, open * math.exp(0.01 * rng.gauss()))
      val hi = math.max(open, close) * (1.0 + 0.004 * math.abs(rng.gauss()))
      val lo = math.min(open, close) * (1.0 - 0.004 * math.abs(rng.gauss()))
      val vol = 1000.0 + math.floor(9000.0 * rng.uniform())
      val t = BarTick(series, ts, open, hi, lo, close, vol)
      ts += 1
      t
    }
  }

  def seriesName(i: Int): String = f"s$i%04d"

  def walks(seed: Long, nSeries: Int): Array[Walk] =
    Array.tabulate(nSeries)(i => new Walk(sub(seed, 1000L + i), seriesName(i)))

  /** nSeries × nBars OHLCV bars, series-major. */
  def bars(seed: Long, nSeries: Int, nBars: Int): Array[BarTick] =
    walks(seed, nSeries).flatMap(w => Array.fill(nBars)(w.next()))

  // ---------------------------------------------------------- strategies

  /** The interactive request pool: 15 kinds across every registry
    * category, each with the range its seeded `length`-style parameter is
    * drawn from. The ranges sit within about ±20% of the registry default:
    * plan and codegen size grow with some lengths (wma's weights), and
    * with ranges like 5–60 a request's time moved up to 3× between seeds. */
  val requestKinds: Seq[(String, String, Int, Int)] = Seq(
    // kind, length param, min, max
    ("sma", "length", 8, 12), ("ema", "length", 8, 12), ("wma", "length", 8, 12),
    ("rsi", "length", 8, 12), ("macd", "fast", 10, 14), ("atr", "length", 8, 12),
    ("bbands", "length", 4, 6), ("stoch", "k", 8, 12), ("cci", "length", 8, 12),
    ("adx", "length", 12, 16), ("kama", "length", 8, 12), ("mfi", "length", 8, 12),
    ("obv", "", 0, 0), ("psar", "", 0, 0), ("zscore", "length", 25, 35)
  )

  /** The live-feed strategy: every pool kind at its default parameters,
    * so the stream and the interactive requests share their folds. */
  val poolStrategy: Strategy = Strategy("pool15", requestKinds.map(k => IndicatorSpec(k._1)))

  /** Request i: a distinct Strategy. Request 0 (the cold first
    * operation) is [[poolStrategy]], all 15 kinds at default parameters,
    * so the cold cost is the same on every seed. After it, requests
    * come in rounds of six with 1, 2, …, 6 kinds, the round's 21 kind
    * slots filled from the pool in order, with seeded lengths. Every round
    * of every seed has the same kinds and the seed moves only lengths and
    * bars, so a timed window of whole rounds measures the same request mix
    * on every seed, and traced and untraced rounds compare like with like.
    * The name carries the request index, so no two requests share a plan
    * memo. */
  def request(seed: Long, i: Int): Strategy = {
    val rng = new Rng(sub(seed, 2_000_000L + i))
    if (i == 0) Strategy("req0", poolStrategy.ta)
    else {
      val pos = (i - 1) % cycle
      val start = pos * (pos + 1) / 2 // kinds the round used before this request
      Strategy(s"req$i", (0 to pos).map(j => requestKinds((start + j) % requestKinds.size)).map {
        case (kind, p, lo, hi) =>
          if (p.isEmpty) IndicatorSpec(kind) else IndicatorSpec(kind, Map(p -> (lo + rng.int(hi - lo + 1))))
      })
    }
  }

  /** Requests per round (sizes 1..6, 21 kind slots). */
  val cycle = 6

  // -------------------------------------------------------------- corpus

  final case class Corpus(docs: Array[(Long, String)], planted: Array[(Long, Long)])

  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.append("o").toString
  }

  /** nDocs docs of `words` tokens over a skewed 3,000-word vocabulary;
    * the last nTwins docs are two-word edits of earlier docs (the
    * planted near-duplicate pairs, a_id < b_id). */
  def corpus(seed: Long, nDocs: Int, nTwins: Int, words: Int = 40): Corpus = {
    val rng = new Rng(sub(seed, 3L))
    val vocab = 3000
    def draw(): String = word((vocab * math.pow(rng.uniform(), 2.0)).toInt)
    val nBase = nDocs - nTwins
    val base = Array.fill(nBase)(Array.fill(words)(draw()))
    val twins = Array.tabulate(nTwins) { j =>
      val src = rng.int(nBase)
      val t = base(src).clone()
      val p1 = rng.int(words)
      val p2 = (p1 + 1 + rng.int(words - 1)) % words
      t(p1) = draw(); t(p2) = draw()
      (src, t)
    }
    val docs = base.zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" ")) } ++
      twins.zipWithIndex.map { case ((_, w), j) => ((nBase + j).toLong, w.mkString(" ")) }
    Corpus(docs, twins.zipWithIndex.map { case ((src, _), j) => (src.toLong, (nBase + j).toLong) })
  }

  // ------------------------------------------------------------- vectors

  final case class Vectors(
      corpus: Array[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      planted: Array[(Long, Long)]
  )

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** n unit vectors in `clusters` gaussian clusters (member cosine to its
    * center ≈ 0.7), the last nTwins of them near-copies (cosine > 0.99)
    * of earlier vectors, plus nQueries fresh queries drawn the same way.
    * Ids are shuffled against cluster order so no id range is one
    * cluster. Query ids start at 10,000,000. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, nQueries: Int, nTwins: Int): Vectors = {
    val rng = new Rng(sub(seed, 4L))
    val centers = Array.fill(clusters)(Array.fill(dim)(rng.gauss()))
    val sigma = 1.0
    def member(): Array[Double] = {
      val c = centers(rng.int(clusters))
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(x => x / norm * math.sqrt(dim.toDouble) + sigma * rng.gauss())
    }
    val nBase = n - nTwins
    val base = Array.fill(nBase)(member())
    val twinSrc = Array.fill(nTwins)(rng.int(nBase))
    val twins = twinSrc.map(s => base(s).map(x => x + 0.05 * rng.gauss()))
    val all = base ++ twins
    // seeded permutation of ids
    val ids = Array.tabulate(n)(_.toLong)
    for (i <- n - 1 to 1 by -1) { val j = rng.int(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t }
    val corpus = all.zipWithIndex.map { case (v, i) => (ids(i), unit(v)) }
    val planted = twinSrc.zipWithIndex.map { case (s, j) =>
      val a = ids(s); val b = ids(nBase + j); (math.min(a, b), math.max(a, b))
    }
    val queries = Array.tabulate(nQueries)(q => (10_000_000L + q, unit(member())))
    Vectors(corpus, queries, planted)
  }

  /** Digest of a sequence of generated values (self-test helper). */
  def digest(xs: Iterator[Any]): Long =
    xs.foldLeft(1125899906842597L)((h, x) => 31L * h + (x match {
      case a: Array[Float] => java.util.Arrays.hashCode(a).toLong
      case other => other.hashCode().toLong
    }))
}
