package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{CacheRegistry, Graft}

/** The benchmark's JVM side: one client thread drives graft's public API
  * on local[k], closed loop, and writes a raw result file that run.py
  * turns into metrics.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores K --tmp DIR --out FILE --launch-ms T
  *
  * Phases: set-up five times (the first from process launch, the other
  * four after stopping the session: session, Graft.init, input generation
  * and caching), the cold first operation, untimed warm-up, the timed
  * window, heap after a full GC, then the output checks. With --trace 1
  * half of the timed operations are traced and the spans are written
  * next to the result file. */
object Main {

  private val setups = 5

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val tmp = a("tmp")
    val launchMs = a("launch-ms").toLong
    require(Workload.names.contains(name), s"unknown workload '$name'; known: ${Workload.names.mkString(", ")}")
    def phase(what: String): Unit =
      println(f"[perfbench] ${(System.currentTimeMillis() - launchMs) / 1e3}%8.3f s  $what")

    // ---- set-up, five times; keep the last session and inputs
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val ingestS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    for (r <- 0 until setups) {
      val t0 = System.nanoTime()
      spark = Graft.session(cores.toString, cores.toString)
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
      val t1 = System.nanoTime()
      w = Workload.make(name, spark, seed, s"$tmp/setup$r")
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      ingestS += (t2 - t1) / 1e9
      setupS += (if (r == 0) (System.currentTimeMillis() - launchMs) / 1e3 else (t2 - t0) / 1e9)
      phase(f"set-up $r: session ${sessionS.last}%.3f s, inputs ${ingestS.last}%.3f s")
      if (r < setups - 1) {
        w.close()
        CacheRegistry.release(spark)
        spark.stop()
      }
    }

    phase("set-up done")
    val tracer = new Tracer(spark)
    if (traced) tracer.listen()
    var attempted = 0
    var failed = 0
    val opMs = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var i = 0
    def runOp(trace: Boolean): (Double, Long) = {
      w.prepare()
      tracer.enabled = trace
      tracer.op = i
      val t0 = System.nanoTime()
      val n = tracer.span("op")(w.op(i, tracer))
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.enabled = false
      i += 1
      (ms, n)
    }

    // ---- cold first operation, then warm-up: at least warmOps more
    // operations, and at least 3 s counted from the first one's start.
    // A traced run sets traced against untraced operations, so it warms
    // up by at least one operation: the second one is still JIT-warming.
    val warmOps = if (traced) math.max(1, w.warmOps) else w.warmOps
    val warmStart = System.nanoTime()
    val firstOpS = runOp(trace = false)._1 / 1e3
    while (i < 1 + warmOps || (System.nanoTime() - warmStart) / 1e9 < 3.0) runOp(trace = false)
    w.firstTimed = i
    phase(f"first op $firstOpS%.3f s, warm-up done after ${i - 1} ops")

    // ---- timed window (closed loop, one client)
    w.startWindow()
    val windowStart = System.nanoTime()
    var firstError = ""
    // a traced run also holds at least one untraced run of operations,
    // so its overhead is measured even where one operation fills the window
    while ((System.nanoTime() - windowStart) / 1e9 < seconds || attempted % w.cycle != 0 ||
           (traced && attempted < 2 * w.traceRun)) {
      attempted += 1
      val trace = traced && ((attempted - 1) / w.traceRun) % 2 == 0
      try {
        val (ms, n) = runOp(trace)
        opMs += ms
        rows += n
        if (traced) (if (trace) tracedMs else untracedMs) += ms
      } catch {
        case e: Exception =>
          failed += 1
          i += 1
          tracer.enabled = false
          if (firstError.isEmpty) firstError = e.toString.take(500)
      }
    }
    w.endWindow()

    phase(s"timed window done: $attempted ops")
    // ---- memory: driver heap after a full GC, and what is persisted
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    val persistedMb = storage.map(s => s.memSize + s.diskSize).sum / 1048576.0

    if (traced) tracer.attribute()
    phase("heap and trace attribution done")
    // ---- output checks (untimed)
    val checks =
      try w.checks(traced)
      catch { case e: Exception => Seq(Check("checks_ran", 0.0, 1.0, e.toString.take(500))) }

    phase("checks done")
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      tracer.write(a("out") + ".spans.jsonl")
      layer ++= w.layer
      layer("cache.persisted_mb") = persistedMb
      layer("cache.persisted_rdds") = storage.length.toDouble
      layer("graft.cold_setup_s") = setupS.head
      layer("graft.session_start_s") = median(sessionS.toSeq)
      layer("graft.ingest_s") = median(ingestS.toSeq)
    }

    val rt = Runtime.getRuntime
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name,
      "seed" -> seed,
      "trace" -> traced,
      "stamp" -> mutable.LinkedHashMap[String, Any](
        "cores_local" -> cores,
        "master" -> spark.sparkContext.master,
        "available_processors" -> rt.availableProcessors(),
        "driver_max_heap_mb" -> rt.maxMemory() / 1048576,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "sizes" -> w.sizes
      ),
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "ingest_s" -> ingestS,
      "first_op_s" -> firstOpS,
      "warmup_ops" -> (w.firstTimed - 1),
      "op_ms" -> opMs,
      "traced_op_ms" -> tracedMs,
      "untraced_op_ms" -> untracedMs,
      "rows" -> rows,
      "attempted" -> attempted,
      "failed" -> failed,
      "first_error" -> firstError,
      "heap_after_gc_mb" -> heapMb,
      "checks" -> checks.map(c =>
        mutable.LinkedHashMap[String, Any]("name" -> c.name, "value" -> c.value, "floor" -> c.floor,
          "ok" -> c.ok, "detail" -> c.detail)),
      "layer" -> layer
    )
    val pw = new java.io.PrintWriter(a("out"), "UTF-8")
    try pw.println(Json.render(result)) finally pw.close()

    w.close()
    spark.stop()
    phase("stopped")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Generator self-test: same seed → same inputs, another seed → other
  * inputs, for every generator. Prints one line per generator and exits
  * non-zero on a failure. */
object GenSelfTest {
  def main(argv: Array[String]): Unit = {
    val gens: Seq[(String, Long => Long)] = Seq(
      "bars" -> (s => Gen.digest(Gen.bars(s, 3, 50).iterator)),
      "request" -> (s => Gen.digest((0 until 20).iterator.map(i => Gen.request(s, i)))),
      "corpus" -> (s => { val c = Gen.corpus(s, 200, 20); Gen.digest(c.docs.iterator ++ c.planted.iterator) }),
      "vectors" -> (s => {
        val v = Gen.vectors(s, 300, 16, 5, 10, 3)
        Gen.digest(v.corpus.iterator.flatMap(x => Iterator(x._1, x._2)) ++
          v.queries.iterator.flatMap(x => Iterator(x._1, x._2)) ++ v.planted.iterator)
      })
    )
    val bad = gens.filterNot { case (n, g) =>
      val same = g(42L) == g(42L)
      val differ = g(42L) != g(43L)
      println(s"$n same_seed_equal=$same other_seed_differs=$differ")
      same && differ
    }
    if (bad.nonEmpty) sys.exit(1)
  }
}
