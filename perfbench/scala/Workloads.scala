package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheRegistry
import graft.extensions.{Dedup, Similarity}
import graft.streaming.StreamingTa
import graft.streaming.StreamingTa.BarTick
import graft.ta.registry

/** A correctness check: `value` must reach `floor`. */
final case class Check(name: String, value: Double, floor: Double, detail: String = "") {
  def ok: Boolean = !value.isNaN && value >= floor
}

/** One workload: the constructor generates and caches the inputs (part of
  * set-up); [[op]] is one timed client operation and returns the input
  * rows it processed. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def sizes: Map[String, Any]
  def op(i: Int, t: Tracer): Long
  /** Untimed warm-up after the first operation: at least this many ops. */
  def warmOps: Int = 2
  /** Index of the first timed operation (set by Main before the window). */
  var firstTimed: Int = 0
  /** The timed window ends on a multiple of this many operations. */
  def cycle: Int = 1
  /** A traced run traces runs of this many operations in turn with
    * untraced runs of the same length. */
  def traceRun: Int = 1
  /** Checks on the outputs, run after the timed window. */
  def checks(traced: Boolean): Seq[Check]
  /** Untimed preparation before each operation. */
  def prepare(): Unit = ()
  /** Called when the timed window starts and ends. */
  def startWindow(): Unit = ()
  def endWindow(): Unit = ()
  /** Workload-specific per-layer numbers (traced run, after the checks). */
  def layer: Map[String, Double] = Map.empty
  def close(): Unit = ()

  import spark.implicits._
  protected def barsDf(ticks: Seq[BarTick]): DataFrame = spark.createDataset(ticks).toDF()
}

object Workload {
  val names: Seq[String] = Seq("ta_interactive", "tick_stream", "doc_dedup_ann")

  def make(name: String, spark: SparkSession, seed: Long, tmp: String): Workload = name match {
    case "ta_interactive" => new TaInteractive(spark, seed)
    case "tick_stream" => new TickStream(spark, seed, tmp)
    case "doc_dedup_ann" => new DocDedupAnn(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'; known: ${names.mkString(", ")}")
  }

  /** Rows keyed by (series_id, ts) → column → value rounded at 6 dp. */
  def keyed(rows: Array[Row], cols: Seq[String]): Map[(String, Long), Seq[Any]] =
    rows.map { r =>
      (r.getAs[String]("series_id"), r.getAs[Long]("ts")) -> cols.map(c => round6(r.getAs[Any](c)))
    }.toMap

  def round6(v: Any): Any = v match {
    case null => null
    case d: Double if d.isNaN || d.isInfinite => null
    case d: Double => math.rint(d * 1e6) / 1e6
    case f: Float => math.rint(f.toDouble * 1e6) / 1e6
    case other => other
  }

  /** Fraction of keys of `want` whose values equal `got`'s at 6 dp. */
  def agreement(want: Map[(String, Long), Seq[Any]], got: Map[(String, Long), Seq[Any]]): (Double, String) = {
    val bad = want.iterator.filter { case (k, v) => !got.get(k).contains(v) }.toSeq
    val frac = if (want.isEmpty) Double.NaN else 1.0 - bad.size.toDouble / want.size
    (frac, bad.headOption.map { case (k, v) => s"first mismatch at $k: want $v got ${got.get(k)}" }.getOrElse(""))
  }

  /** Streamed columns (everything the stream emits besides the key). */
  def streamedCols(rows: Array[Row]): Seq[String] =
    rows.headOption.map(_.schema.fieldNames.toSeq.filterNot(Set("series_id", "ts"))).getOrElse(Nil)
}

// ------------------------------------------------------------------------

/** The pandas-ta analyst: each request is a distinct seeded Strategy of
  * 1–6 kinds over fresh seeded bars of one instrument, collected to the
  * driver. Driver layers (strategy build, analysis, planning, codegen)
  * dominate; executor work is small. */
final class TaInteractive(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val nBars = 250
  def sizes: Map[String, Any] = Map("series" -> 1, "bars" -> nBars, "kinds_per_request" -> "1-6",
    "kind_pool" -> Gen.requestKinds.size, "first_request" -> Gen.poolStrategy.name)
  override def warmOps: Int = 2 * Gen.cycle
  override def cycle: Int = 3 * Gen.cycle
  // whole rounds of sizes 1–6, so traced and untraced requests have the
  // same size mix
  override def traceRun: Int = Gen.cycle

  private def bars(i: Int): Array[BarTick] = Gen.bars(Gen.sub(seed, 5_000_000L + i), 1, nBars)
  private val digests = mutable.LinkedHashMap.empty[Int, Long]

  def op(i: Int, t: Tracer): Long = {
    val st = Gen.request(seed, i)
    val df = barsDf(bars(i).toSeq)
    val out = t.span("ta.build")(registry.strategy(df, st))
    val rows = t.span("sql.execute")(out.collect())
    digests(i) = digest(rows)
    rows.length.toLong
  }

  private def digest(rows: Array[Row]): Long =
    rows.sortBy(_.getAs[Long]("ts")).foldLeft(17L) { (h, r) =>
      r.schema.fieldNames.sorted.foldLeft(h)((h2, c) => 31L * h2 + String.valueOf(Workload.round6(r.getAs[Any](c))).hashCode)
    }

  /** Compiled strategy output equals folding registry.apply over the
    * specs (Strategy.scala's contract), and equals what the timed request
    * returned, on three sampled requests: the first and last timed ones
    * and a seeded pick between them. */
  def checks(traced: Boolean): Seq[Check] = {
    val timed = digests.keys.toSeq.filter(_ >= firstTimed)
    val rng = new Gen.Rng(Gen.sub(seed, 6L))
    val picks = if (timed.size <= 3) timed
      else Seq(timed.head, timed(1 + rng.int(timed.size - 2)), timed.last)
    picks.flatMap { i =>
      val st = Gen.request(seed, i)
      val df = barsDf(bars(i).toSeq)
      val got = registry.strategy(df, st).collect()
      val ref = st.ta.foldLeft(df)((d, s) => registry.apply(d, s)).collect()
      val refCols = ref.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
      val gotCols = got.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
      val (agree, detail) = Workload.agreement(Workload.keyed(ref, refCols), Workload.keyed(got, refCols))
      Seq(
        Check(s"req$i.columns_equal_fold", if (refCols.sorted == gotCols.sorted) 1.0 else 0.0, 1.0,
          s"${st.ta.map(_.kind).mkString("+")}: ${refCols.diff(gotCols)} / ${gotCols.diff(refCols)}"),
        Check(s"req$i.values_equal_fold_6dp", agree, 1.0, detail),
        Check(s"req$i.same_as_timed", if (digest(got) == digests(i)) 1.0 else 0.0, 1.0)
      )
    }
  }
}

// ------------------------------------------------------------------------

/** A live feed: the 15 pool kinds as a stateful strategyStream over a
  * MemoryStream; each operation adds one micro-batch of seeded ticks
  * (every series advances `perSeries` ticks) and waits for it to be processed.
  * Default state store provider, checkpoint on local disk. */
final class TickStream(spark: SparkSession, seed: Long, tmp: String) extends Workload(spark, seed) {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  val nSeries = 40
  val perSeries = 25
  def sizes: Map[String, Any] = Map("series" -> nSeries, "ticks_per_series_per_batch" -> perSeries,
    "ticks_per_batch" -> nSeries * perSeries, "kinds" -> Gen.poolStrategy.ta.size)
  override def warmOps: Int = 10

  private val walks = Gen.walks(Gen.sub(seed, 10L), nSeries)
  private val checkSeries: Set[String] = {
    val rng = new Gen.Rng(Gen.sub(seed, 11L))
    Seq.fill(3)(Gen.seriesName(rng.int(nSeries))).toSet
  }
  private val fedCheck = mutable.ArrayBuffer.empty[BarTick]
  private val emittedCheck = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
  private val outRows = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var lastBatch = -1L
  private var windowBatches = (-1L, -1L)

  private val ms = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[BarTick]
  }
  private val query = StreamingTa
    .strategyStream(ms.toDS(), Gen.poolStrategy)
    .writeStream
    .option("checkpointLocation", s"$tmp/ckpt-stream-${System.nanoTime()}")
    .foreachBatch((df: Dataset[Row], id: Long) => {
      val rows = df.collect()
      rows.foreach(r => if (checkSeries.contains(r.getAs[String]("series_id"))) emittedCheck.add(r))
      outRows.put(id, rows.length.toLong)
      lastBatch = id
      ()
    })
    .start()

  private var next: Seq[BarTick] = Nil
  /** Generate the next batch. */
  override def prepare(): Unit = {
    next = (0 until perSeries).flatMap(_ => walks.map(_.next())).toSeq
    fedCheck ++= next.filter(t => checkSeries.contains(t.series_id))
  }

  def op(i: Int, t: Tracer): Long = {
    val batch = next
    t.span("stream.add")(ms.addData(batch))
    t.span("stream.process")(query.processAllAvailable())
    batch.size.toLong
  }

  /** Stream equals batch on the ticks fed to three seeded series: every
    * emitted row, every streamed column, 6 dp. */
  def checks(traced: Boolean): Seq[Check] = {
    val streamed = emittedCheck.toArray(new Array[Row](0))
    val cols = Workload.streamedCols(streamed)
    val batch = registry.strategy(barsDf(fedCheck.toSeq), Gen.poolStrategy).collect()
    val (agree, detail) = Workload.agreement(Workload.keyed(batch, cols), Workload.keyed(streamed, cols))
    Seq(
      Check("stream_rows_equal_fed_ticks", if (streamed.length == fedCheck.size) 1.0 else 0.0, 1.0,
        s"${streamed.length} vs ${fedCheck.size}"),
      Check("stream_equals_batch_6dp", agree, 1.0, s"${cols.size} columns; $detail")
    )
  }

  override def startWindow(): Unit = windowBatches = (lastBatch, -1L)
  override def endWindow(): Unit = windowBatches = (windowBatches._1, lastBatch)

  /** Progress of the timed micro-batches, summarized. */
  override def layer: Map[String, Double] = {
    val (from, to) = windowBatches
    val ps = query.recentProgress.toSeq.filter(p => p.batchId > from && p.batchId <= to && p.numInputRows > 0)
    def mean(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size
    def dur(k: String)(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def st(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = p.stateOperators.head
    val in = ps.map(_.numInputRows.toDouble).sum
    val out = ps.map(p => Option(outRows.get(p.batchId)).getOrElse(0L).toDouble).sum
    val last = ps.lastOption
    Map(
      "stream.trigger_ms" -> mean(dur("triggerExecution")),
      "stream.add_batch_ms" -> mean(dur("addBatch")),
      "stream.planning_ms" -> mean(dur("queryPlanning")),
      "stream.wal_commit_ms" -> mean(dur("walCommit")),
      "stream.commit_offsets_ms" -> mean(dur("commitOffsets")),
      "stream.latest_offset_ms" -> mean(dur("latestOffset")),
      "stream.emit_ratio" -> (if (in > 0) out / in else 0.0),
      "state.rows_total" -> last.map(st(_).numRowsTotal.toDouble).getOrElse(0.0),
      "state.rows_updated" -> mean(st(_).numRowsUpdated.toDouble),
      "state.memory_mb" -> last.map(st(_).memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "state.bytes_per_series" -> last.map(st(_).memoryUsedBytes.toDouble / nSeries).getOrElse(0.0),
      "state.update_ms" -> mean(st(_).allUpdatesTimeMs.toDouble),
      "state.commit_ms" -> mean(st(_).commitTimeMs.toDouble)
    )
  }

  override def close(): Unit = query.stop()
}

// ------------------------------------------------------------------------

/** The data-pipeline side: one operation releases the session's memos,
  * then runs MinHash-LSH dedup and near-dup clusters over a seeded corpus
  * with planted two-word-edit twins, builds and probes an IVF index,
  * runs quantized top-k and cosine near-dup pairs over seeded clustered
  * vectors. Index builds (memo writes) and probes (memo reads) in one op. */
final class DocDedupAnn(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import spark.implicits._

  val nDocs = 1000
  val nTwins = 100
  val nVec = 2000
  val dim = 64
  val nQueries = 50
  val nCells = 16
  val nprobe = 4
  val k = 10
  val lshThreshold = 0.5
  val nearDupThreshold = 0.98
  def sizes: Map[String, Any] = Map("docs" -> nDocs, "planted_doc_twins" -> nTwins, "vectors" -> nVec,
    "dim" -> dim, "clusters" -> 50, "queries" -> nQueries, "planted_vector_twins" -> nVec / 100,
    "ivf_cells" -> nCells, "ivf_nprobe" -> nprobe, "k" -> k)
  override def warmOps: Int = 0

  private val corpus = Gen.corpus(Gen.sub(seed, 12L), nDocs, nTwins)
  private val vec = Gen.vectors(Gen.sub(seed, 13L), nVec, dim, 50, nQueries, nVec / 100)
  private val docs = spark.createDataFrame(spark.sparkContext.parallelize(corpus.docs.toSeq, spark.sparkContext.defaultParallelism))
    .toDF("doc_id", "text").persist()
  private val vecs = spark.createDataFrame(spark.sparkContext.parallelize(vec.corpus.toSeq, spark.sparkContext.defaultParallelism))
    .toDF("vec_id", "embedding").persist()
  private val queries = spark.createDataFrame(vec.queries.toSeq).toDF("vec_id", "embedding").persist()
  docs.count(); vecs.count(); queries.count()

  private final case class Out(pairs: DataFrame, nPairs: Long, nClustered: Long,
                               ivf: Array[(Long, Long)], quant: Array[(Long, Long)], nearDup: Array[(Long, Long)])
  private var last: Out = _
  private val signatures = mutable.ArrayBuffer.empty[String]

  private def topk(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("nbr_id"))).sorted

  def op(i: Int, t: Tracer): Long = {
    t.span("cache.release")(CacheRegistry.release(spark))
    val (pairs, nPairs) = t.span("dedup.lsh") {
      val p = CacheRegistry.track(Dedup.minhashLshPairs(docs, lshThreshold))
      (p, p.count())
    }
    val nClustered = t.span("dedup.cluster")(Dedup.nearDupClusters(docs, pairs).where(col("n_cluster") > 1).count())
    val idx = t.span("ann.ivf_build") { val ix = Similarity.ivfIndex(vecs, nCells); ix.count(); ix }
    val ivf = t.span("ann.ivf_query")(topk(Similarity.topkIvf(idx, queries, k, nCells, nprobe).collect()))
    val quant = t.span("ann.quant_topk")(topk(Similarity.topkQuantized(vecs, queries, k).collect()))
    val nd = t.span("ann.neardup") {
      Similarity.cosineNeardupPairs(vecs, nearDupThreshold, dim, nPlanes = 48, bands = 4).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).sorted
    }
    last = Out(pairs, nPairs, nClustered, ivf, quant, nd)
    signatures += s"$nPairs/$nClustered/${ivf.toSeq.hashCode}/${quant.toSeq.hashCode}/${nd.toSeq.hashCode}"
    (nDocs + nVec + nQueries).toLong
  }

  private var layerStats: Map[String, Double] = Map.empty
  override def layer: Map[String, Double] = layerStats

  /** Planted-pair recall of LSH and of cosine near-dup; IVF recall@10 and
    * quantized overlap@10 against exact topkBrute; every timed operation
    * returned the same outputs. */
  def checks(traced: Boolean): Seq[Check] = {
    val found = last.pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val docRecall = corpus.planted.count(found.contains).toDouble / corpus.planted.length
    val brute = topk(Similarity.topkBrute(vecs, queries, k).collect()).toSet
    val ivfRecall = last.ivf.count(brute.contains).toDouble / brute.size
    val quantOverlap = last.quant.count(brute.contains).toDouble / brute.size
    val ndSet = last.nearDup.toSet
    val vecRecall = vec.planted.count(ndSet.contains).toDouble / vec.planted.length
    if (traced) {
      val candidates = Dedup.lshCandidates(docs).count().toDouble
      layerStats = Map(
        "dedup.candidates" -> candidates,
        "dedup.pairs" -> last.nPairs.toDouble,
        "dedup.pair_yield" -> (if (candidates > 0) last.nPairs / candidates else 0.0),
        "dedup.planted_recall" -> docRecall,
        "ann.ivf_recall_at_10" -> ivfRecall,
        "ann.quant_overlap_at_10" -> quantOverlap
      )
    }
    Seq(
      Check("dedup.planted_recall", docRecall, 0.95, s"${corpus.planted.length} planted pairs"),
      Check("ann.ivf_recall_at_10", ivfRecall, 0.80, s"$nCells cells, nprobe $nprobe"),
      Check("ann.quant_overlap_at_10", quantOverlap, 0.90),
      Check("ann.neardup_planted_recall", vecRecall, 0.90, s"${vec.planted.length} planted pairs"),
      Check("ops_agree", if (signatures.distinct.size == 1) 1.0 else 0.0, 1.0, signatures.distinct.mkString(" | "))
    )
  }

  override def close(): Unit = { docs.unpersist(); vecs.unpersist(); queries.unpersist() }
}
