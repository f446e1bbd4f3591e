package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval of the single client thread. `counts` holds what
  * was attributed to this span itself (listener events, Catalyst phases);
  * `incl` holds process-wide counters read at its boundaries, which cover
  * its children too. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = 0L
  var endMs: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  val incl: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** Span recorder plus the Spark listeners that feed it.
  *
  * Spans nest on the one client thread and live in memory until [[write]].
  * While a span is open the thread's job group is the span id, so a job
  * the client submits is attributed to the span that caused it. Jobs from
  * other threads (streaming micro-batches run on the query's own thread)
  * carry no span id; they go to the innermost span open when they started.
  * Tasks and stages follow their job. Catalyst phase times come from each
  * finished query's `QueryExecution.tracker` and are attributed by start
  * time the same way. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val groupPrefix = "perfbench-span-"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1

  /** Index of the client operation the next root span belongs to. */
  var op: Int = -1
  /** Off: [[span]] runs its body with no bookkeeping at all. */
  var enabled = false

  private def codegenNs: Double = CodeGenerator.compileTime.toDouble
  private def codegenClasses: Double = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0), name, op)
      nextId += 1
      spans += s
      stack = s :: stack
      val cg0 = codegenNs
      val cc0 = codegenClasses
      sc.setJobGroup(groupPrefix + s.id, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.incl("codegen_ms") = (codegenNs - cg0) / 1e6
        s.incl("codegen_classes") = codegenClasses - cc0
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  // ------------------------------------------------------------ listeners

  private final case class Job(id: Int, group: String, startMs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, launchMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                                shuffleWrite: Long, shuffleRead: Long, spill: Long)
  private final case class Phase(name: String, startMs: Long, ms: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  @volatile private var flushJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (g == "perfbench-flush") flushJob = -2
      jobs.add(Job(e.jobId, g, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time)
      if (flushJob == -2) flushJob = e.jobId
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.putIfAbsent(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(Task(
          e.stageId, e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (name, p) => phases.add(Phase(name, p.startTimeMs, p.durationMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Start recording listener events (traced runs only: an untraced run
    * carries no listener of the benchmark's). */
  def listen(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run a marker job and wait until the listener has seen it end: every
    * event posted before it has then been delivered. */
  private def drain(): Unit = {
    flushJob = -1
    sc.setJobGroup("perfbench-flush", "flush")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 20000
    while (flushJob < 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(100)
  }

  /** Innermost span open at wall time t (ms), if any. */
  private def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startNs)

  /** Attribute every recorded listener event to its span. Per span:
    * jobs, stages, tasks, task times and bytes, the stage with the fewest
    * tasks, the time tasks waited for a slot, and for root spans the part
    * of the span no job covered (`driver_self_ms`). */
  def attribute(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpan = mutable.Map.empty[Int, Span]
    jobs.asScala.foreach { j =>
      val s =
        if (j.group.startsWith(groupPrefix)) byId.get(j.group.stripPrefix(groupPrefix).toInt)
        else if (j.group == "perfbench-flush") None
        else spanAt(j.startMs)
      s.foreach { sp =>
        jobSpan(j.id) = sp
        sp.add("jobs", 1)
      }
    }
    val stageSpan = mutable.Map.empty[Int, Span]
    jobs.asScala.foreach { j =>
      jobSpan.get(j.id).foreach(sp => j.stages.foreach(st => if (stageTasks.containsKey(st)) stageSpan(st) = sp))
    }
    stageSpan.foreach { case (st, sp) =>
      sp.add("stages", 1)
      val n = stageTasks.get(st).toDouble
      sp.counts("min_tasks") = math.min(sp.counts.getOrElse("min_tasks", Double.MaxValue), n)
    }
    tasks.asScala.foreach { t =>
      stageSpan.get(t.stage).foreach { sp =>
        sp.add("tasks", 1)
        sp.add("task_run_ms", t.runMs.toDouble)
        sp.add("task_cpu_ms", t.cpuNs / 1e6)
        sp.add("gc_ms", t.gcMs.toDouble)
        sp.add("shuffle_write_b", t.shuffleWrite.toDouble)
        sp.add("shuffle_read_b", t.shuffleRead.toDouble)
        sp.add("spill_b", t.spill.toDouble)
        Option(stageSubmit.get(t.stage)).foreach(sub => sp.add("task_wait_ms", math.max(0L, t.launchMs - sub).toDouble))
      }
    }
    phases.asScala.foreach { p =>
      spanAt(p.startMs).foreach(sp => sp.add(p.name + "_ms", p.ms.toDouble))
    }
    // driver self time of each operation: its wall minus the union of the
    // intervals of the jobs attributed to it or to any span inside it
    val root = mutable.Map.empty[Int, Span]
    def rootOf(s: Span): Span = if (s.parent == 0) s else rootOf(byId(s.parent))
    val intervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    jobs.asScala.foreach { j =>
      for (sp <- jobSpan.get(j.id); end <- Option(jobEnds.get(j.id))) {
        val r = root.getOrElseUpdate(sp.id, rootOf(sp))
        intervals.getOrElseUpdate(r.id, mutable.ArrayBuffer.empty) += ((j.startMs, end))
      }
    }
    spans.filter(_.parent == 0).foreach { r =>
      val iv = intervals.getOrElse(r.id, mutable.ArrayBuffer.empty)
        .map { case (a, b) => (math.max(a, r.startMs), math.min(b, r.endMs)) }
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      r.counts("driver_self_ms") = math.max(0.0, (r.endNs - r.startNs) / 1e6 - covered)
    }
  }

  /** Spans as JSON lines: times in ms since the first span. */
  def write(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      def obj(m: mutable.Map[String, Double]): String =
        m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
      w.println(
        s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"op":${s.op},""" +
          s""""start_ms":${Json.num((s.startNs - t0) / 1e6)},"end_ms":${Json.num((s.endNs - t0) / 1e6)},""" +
          s""""counts":${obj(s.counts)},"incl":${obj(s.incl)}}""")
    }
    finally w.close()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
