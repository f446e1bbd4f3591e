package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Window}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

import StreamingTa.{BarTick, StreamStage}

/** Per-series streaming stage that evaluates an indicator's BATCH plan —
  * the analyzed `registry` lowering over an empty bars relation — one tick
  * at a time, with the semantics WindowExec gives the same plan:
  *  - an aggregate over the running frame (UNBOUNDED PRECEDING .. CURRENT
  *    ROW) keeps its aggregation buffer in the per-series state and folds
  *    each tick into it (UnboundedPrecedingWindowFunctionFrame);
  *  - an aggregate over a fixed ROWS frame re-folds a ring of its input
  *    rows oldest to newest on every tick (SlidingWindowFunctionFrame);
  *    imperative aggregates (collect_list, percentile) fold the same way;
  *  - `lag` reads the ring, `row_number` is a running aggregate;
  *  - projections between window operators are inlined into the inputs
  *    of the next operator and into the outputs.
  * The window operators' update/evaluate expressions are the batch
  * aggregates' own, so a streamed column equals its batch column by
  * construction. A plan reading later rows (lead, UNBOUNDED FOLLOWING)
  * or a whole partition is refused with the reason.
  *
  * Compiled programs are cached per JVM (key: spec + the confs analysis
  * reads) and canonicalized on deserialization, so a JVM generates a
  * program's projections once, not once per task or thread. */
private[streaming] object PlanStage {

  /** Lower frame offset of UNBOUNDED PRECEDING. */
  private val Running = Int.MinValue

  /** Aggregates of one window operator that share a frame. The buffer is
    * the declarative aggregates' buffers followed by one slot per
    * imperative aggregate. */
  final class Group(
      val lower: Int,
      val upper: Int,
      val init: Array[Any],
      val types: Array[DataType],
      val update: Seq[Expression],
      val evaluate: Seq[Expression],
      val imperative: Array[ImperativeAggregate],
      val outSlots: Array[Int]
  ) extends Serializable {
    def running: Boolean = lower == Running
  }

  /** One window operator: its input projection over the slot row, the
    * input history it keeps (`ring` rows), its frame groups and its lags. */
  final class Step(
      val inputs: Seq[Expression],
      val ring: Int,
      val groups: Array[Group],
      val lagInput: Array[Int],
      val lagOffset: Array[Int],
      val lagDefault: Array[Any],
      val lagSlot: Array[Int]
  ) extends Serializable

  /** A compiled plan. The slot row holds the seven bar columns followed by
    * every window result the outputs need. */
  final class Program(
      val key: String,
      val steps: Array[Step],
      val slots: Int,
      val outputs: Seq[Expression],
      val fields: Seq[StructField]
  ) extends Serializable {
    /** Shape of the per-series state this program keeps. */
    def layout: String =
      steps.map { s =>
        s"ring${s.ring}x${s.inputs.size}" +
          s.groups.map(g => s"[${g.lower},${g.upper}]${g.types.length}").mkString +
          s.lagOffset.map(k => s"lag$k").mkString
      }.mkString(";")

    /** The program's one evaluator in this JVM. Its projections are
      * generated once, on the driver when the stream is built; callers
      * hold its monitor while they use it, because its scratch rows and
      * some expressions (the lambda variables of higher-order functions,
      * e.g. mad's `aggregate` over collect_list) keep evaluation state. */
    @transient lazy val evaluator: Evaluator = new Evaluator(this)

    private def readResolve(): AnyRef = canonical(this)
  }

  /** A mutable row over an array the caller owns and may swap. */
  final class ArrayRow(var values: Array[Any]) extends InternalRow with BaseGenericInternalRow {
    def genericGet(ordinal: Int): Any = values(ordinal)
    def numFields: Int = values.length
    def setNullAt(i: Int): Unit = values(i) = null
    def update(i: Int, value: Any): Unit = values(i) = value
    override def copy(): GenericInternalRow = new GenericInternalRow(values.clone())
  }

  /** Projections and scratch rows of one program. Not thread-safe: see
    * [[Program.evaluator]]. */
  final class Evaluator(p: Program) {
    /** Generated code, except for a plain copy of columns: a class per
      * copy would buy nothing but heap (each generated class and its
      * source stay cached for the JVM's lifetime). */
    private def projection(es: Seq[Expression]): MutableProjection =
      if (es.forall(e => e.isInstanceOf[BoundReference] || e.foldable)) new InterpretedMutableProjection(es)
      else MutableProjection.create(es)
    val slot = new ArrayRow(new Array[Any](p.slots))
    val inputs: Array[MutableProjection] = p.steps.map { s =>
      projection(s.inputs).target(new ArrayRow(new Array[Any](s.inputs.size)))
    }
    val update: Array[Array[MutableProjection]] = p.steps.map(_.groups.map(g => projection(g.update)))
    val evaluate: Array[Array[MutableProjection]] = p.steps.map(_.groups.map { g =>
      projection(g.evaluate).target(new ArrayRow(new Array[Any](g.evaluate.size)))
    })
    /** Running groups view their persisted buffer; a sliding group folds
      * into a typed scratch buffer (no boxing per row). */
    val running = new ArrayRow(null)
    val scratch: Array[Array[InternalRow]] =
      p.steps.map(_.groups.map(g => new SpecificInternalRow(g.types.toIndexedSeq)))
    val ringRow = new ArrayRow(null)
    val joined = new JoinedRow
    val out: MutableProjection = projection(p.outputs)
    private var sid: String = null
    private var sidUtf8: UTF8String = null
    def seriesId(s: String): UTF8String = {
      if (s ne sid) { sid = s; sidUtf8 = UTF8String.fromString(s) }
      sidUtf8
    }
  }

  // ------------------------------------------------------------ program cache
  private val programs = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Either[String, Program]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Either[String, Program]]): Boolean =
        size() > 512
    })

  /** The cached compilation of `key`, or `build()` cached under it. */
  def cached(key: String)(build: => Either[String, Program]): Either[String, Program] = {
    val hit = programs.get(key)
    if (hit != null) hit
    else {
      val built = build
      programs.putIfAbsent(key, built)
      programs.get(key)
    }
  }

  private def canonical(p: Program): Program =
    programs.synchronized {
      programs.get(p.key) match {
        case scala.util.Right(q) => q
        case _ => programs.put(p.key, scala.util.Right(p)); p
      }
    }

  // ---------------------------------------------------------------- compiler
  private val barNames = Seq("series_id", "ts", "open", "high", "low", "close", "volume")

  private final class Unsupported(msg: String) extends Exception(msg)
  private def unsupported(msg: String): Nothing = throw new Unsupported(msg)

  /** Compile an analyzed single-spec batch plan whose leaf is the bar
    * relation into a tick program emitting `outNames`. Left = why the plan
    * cannot be evaluated tick by tick. */
  def compile(key: String, plan: LogicalPlan, outNames: Seq[String]): Either[String, Program] =
    try scala.util.Right(compileOrThrow(key, plan, outNames))
    catch { case u: Unsupported => scala.util.Left(u.getMessage) }

  private def compileOrThrow(key: String, plan: LogicalPlan, outNames: Seq[String]): Program = {
    def linear(p: LogicalPlan): List[LogicalPlan] = p match {
      case l: LeafNode => List(l)
      case _ if p.children.size == 1 => linear(p.children.head) :+ p
      case _ => unsupported(s"operator ${p.nodeName} has ${p.children.size} inputs")
    }
    val chain = linear(plan)
    val base = chain.head.output
    if (base.map(_.name) != barNames) unsupported(s"leaf is not the bar relation: ${base.map(_.name)}")

    // Project aliases expand in place; window results are the materialized slots
    final case class Win(op: Int, attr: Attribute, fn: Expression, frame: WindowFrame)
    val alias = mutable.HashMap.empty[ExprId, Expression]
    val wins = mutable.LinkedHashMap.empty[ExprId, Win]
    def subst(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if alias.contains(a.exprId) => alias(a.exprId)
    }
    chain.tail.zipWithIndex.foreach {
      case (Project(list, _), _) =>
        list.foreach {
          case a: Alias => alias(a.exprId) = subst(a.child)
          case _: AttributeReference => ()
          case o => unsupported(s"projection of ${o.sql}")
        }
      case (w: Window, op) =>
        val byKey = (w.partitionSpec, w.orderSpec) match {
          case (Seq(k: Attribute), Seq(SortOrder(o: Attribute, Ascending, _, _))) =>
            k.exprId == base(0).exprId && o.exprId == base(1).exprId
          case _ => false
        }
        if (!byKey) unsupported(s"window not over (series_id ORDER BY ts): ${w.simpleString(200)}")
        w.windowExpressions.foreach {
          case a @ Alias(we: WindowExpression, _) =>
            // a window function the plan spells more than once (bbands'
            // five columns share one mean and one stddev) folds once
            val w = Win(op, a.toAttribute, subst(we.windowFunction), we.windowSpec.frameSpecification)
            wins.values.find(o => o.frame == w.frame && o.fn.semanticEquals(w.fn)) match {
              case Some(o) => alias(a.exprId) = o.attr
              case None => wins(a.exprId) = w
            }
          case o => unsupported(s"window expression ${o.sql}")
        }
      case (o, _) => unsupported(s"operator ${o.nodeName}")
    }
    val root = chain.last
    val outputs0 = outNames.map { n =>
      subst(root.output.find(_.name == n).getOrElse(unsupported(s"plan has no column $n")))
    }

    // only the window results the outputs reach
    val needed = mutable.HashSet.empty[ExprId]
    def visit(e: Expression): Unit = e.foreach {
      case a: AttributeReference if wins.contains(a.exprId) && needed.add(a.exprId) =>
        visit(wins(a.exprId).fn)
      case _ => ()
    }
    outputs0.foreach(visit)
    val used = wins.values.filter(w => needed(w.attr.exprId)).toSeq.sortBy(_.op)
    val slotAttrs: Seq[Attribute] = base ++ used.map(_.attr)

    val steps = used.groupBy(_.op).toSeq.sortBy(_._1).map { case (_, ws) =>
      val inputs = mutable.ArrayBuffer.empty[Expression]
      val inAttrs = mutable.ArrayBuffer.empty[AttributeReference]
      def input(c: Expression): Int = {
        val i = inputs.indexWhere(_.semanticEquals(c))
        if (i >= 0) i
        else {
          inputs += c
          inAttrs += AttributeReference(s"in${inputs.size - 1}", c.dataType, c.nullable)()
          inputs.size - 1
        }
      }
      def inputOf(c: Expression): Expression = if (c.foldable) c else inAttrs(input(c))

      val frames = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuffer[(Expression, Int)]]
      val lags = mutable.ArrayBuffer.empty[(Int, Int, Any, Int)]
      ws.foreach { w =>
        val slot = slotAttrs.indexWhere(_.exprId == w.attr.exprId)
        val (lo, hi) = frameOffsets(w.frame)
        w.fn match {
          case _: SizeBasedWindowFunction => unsupported(s"${w.fn.prettyName} needs the partition size")
          case l: Lag if !l.ignoreNulls && lo == hi && l.default.foldable =>
            lags += ((input(l.input), -lo, l.default.eval(), slot))
          case AggregateExpression(f, Complete, false, None, _) =>
            frames.getOrElseUpdate((lo, hi), mutable.ArrayBuffer.empty) += (f.mapChildren(inputOf) -> slot)
          case f: AggregateWindowFunction =>
            frames.getOrElseUpdate((lo, hi), mutable.ArrayBuffer.empty) += (f.mapChildren(inputOf) -> slot)
          case o => unsupported(s"window function ${o.prettyName}")
        }
      }
      val groups = frames.toSeq.map { case ((lo, hi), fns) =>
        val decl = fns.collect { case (f: DeclarativeAggregate, s) => (f, s) }
        val imp = fns.collect { case (f: ImperativeAggregate, s) => (f, s) }
        if (decl.size + imp.size != fns.size) unsupported("aggregate of unknown kind")
        if (lo == Running && imp.nonEmpty) unsupported("imperative aggregate over a running frame")
        val bufAttrs = decl.flatMap(_._1.aggBufferAttributes).toSeq
        val fullBuf: Seq[Attribute] = bufAttrs ++ imp.indices.map(j => AttributeReference(s"imp$j", NullType)())
        val init = decl.flatMap(_._1.initialValues).map { e =>
          if (!e.foldable) unsupported(s"non-constant initial value ${e.sql}")
          e.eval()
        }.toArray
        new Group(
          lo, hi, init, fullBuf.map(_.dataType).toArray,
          bindAll(decl.flatMap(_._1.updateExpressions).toSeq, fullBuf ++ inAttrs),
          bindAll(decl.map(_._1.evaluateExpression).toSeq, fullBuf),
          imp.zipWithIndex.map { case ((f, _), j) =>
            BindReferences.bindReference(
              f.withNewMutableAggBufferOffset(bufAttrs.size + j).withNewInputAggBufferOffset(0), inAttrs.toSeq)
          }.toArray,
          (decl.map(_._2) ++ imp.map(_._2)).toArray)
      }.toArray
      val ring = (groups.filterNot(_.running).map(1 - _.lower) ++ lags.map(_._2 + 1)).foldLeft(0)(math.max)
      new Step(
        bindAll(inputs.toSeq, slotAttrs), ring, groups,
        lags.map(_._1).toArray, lags.map(_._2).toArray, lags.map(_._3).toArray, lags.map(_._4).toArray)
    }.toArray

    val fields = outNames.zip(outputs0).map { case (n, e) =>
      e.dataType match {
        case DoubleType | IntegerType | LongType | BooleanType => StructField(n, e.dataType, nullable = true)
        case t => unsupported(s"output $n has type ${t.simpleString}")
      }
    }
    new Program(key, steps, slotAttrs.size, bindAll(outputs0, slotAttrs), fields)
  }

  /** BindReferences over a list of expressions that keeps shared subtrees
    * shared: the fold aggregates' update expressions are small DAGs (adx:
    * 126 distinct nodes) that a per-path rebind turns into trees of
    * thousands (adx: 7,423), and the program keeps them for the JVM's
    * lifetime. */
  private def bindAll(es: Seq[Expression], attrs: Seq[Attribute]): Seq[Expression] = {
    val memo = new java.util.IdentityHashMap[Expression, Expression]()
    def go(e: Expression): Expression = {
      val hit = memo.get(e)
      if (hit != null) hit
      else {
        val bound = e match {
          case a: AttributeReference =>
            val i = attrs.indexWhere(_.exprId == a.exprId)
            if (i < 0) throw new IllegalStateException(s"unbound attribute $a in ${attrs.mkString(",")}")
            BoundReference(i, a.dataType, attrs(i).nullable)
          case _ =>
            val kids = e.children
            val bk = kids.map(go)
            if (kids.zip(bk).forall { case (k, b) => k eq b }) e else e.withNewChildren(bk)
        }
        memo.put(e, bound)
        bound
      }
    }
    es.map(go)
  }

  /** (lower, upper) row offsets of a causal frame. */
  private def frameOffsets(frame: WindowFrame): (Int, Int) = frame match {
    case SpecifiedWindowFrame(_, UnboundedPreceding, CurrentRow) => (Running, 0)
    case SpecifiedWindowFrame(RowFrame, lo, hi) =>
      def off(e: Expression): Int = e match {
        case CurrentRow => 0
        case e if e.foldable && e.dataType == IntegerType => e.eval().asInstanceOf[Int]
        case other => unsupported(s"frame bound ${other.sql}")
      }
      val (l, h) = (off(lo), off(hi))
      if (h > 0) unsupported(s"frame reads rows after the current one (${frame.sql})")
      if (l > h) unsupported(s"empty frame ${frame.sql}")
      (l, h)
    case other => unsupported(s"frame ${other.sql}")
  }
}

/** The plan-driven [[StreamStage]]: per-series state is the running
  * buffers and input rings of its program; the program itself is
  * transient and re-attached after the state is restored. */
private[streaming] final class PlanStage(@transient private var prog: PlanStage.Program)
    extends StreamStage {
  import PlanStage._
  private var n = 0L
  private var bufs: Array[Array[Any]] = _
  private var rings: Array[Array[Array[Any]]] = _

  override def rearm(fresh: () => StreamStage): Unit =
    if (prog == null) prog = fresh().asInstanceOf[PlanStage].prog

  def update(t: BarTick): Array[Any] = {
    val ev = prog.evaluator
    ev.synchronized(fold(prog, ev, t))
  }

  private def fold(p: PlanStage.Program, ev: PlanStage.Evaluator, t: BarTick): Array[Any] = {
    if (rings == null) {
      bufs = p.steps.map(s => s.groups.find(_.running).map(_.init.clone()).orNull)
      rings = p.steps.map(s => if (s.ring > 0) new Array[Array[Any]](s.ring) else null)
    }
    val slot = ev.slot.values
    slot(0) = ev.seriesId(t.series_id); slot(1) = t.ts
    slot(2) = t.open; slot(3) = t.high; slot(4) = t.low; slot(5) = t.close; slot(6) = t.volume
    var si = 0
    while (si < p.steps.length) {
      val s = p.steps(si)
      val in = ev.inputs(si)(ev.slot).asInstanceOf[ArrayRow]
      val ring = rings(si)
      if (ring != null) {
        val j = (n % s.ring).toInt
        var r = ring(j)
        if (r == null) { r = new Array[Any](s.inputs.size); ring(j) = r }
        var c = 0
        while (c < r.length) { r(c) = InternalRow.copyValue(in.values(c)); c += 1 }
      }
      var gi = 0
      while (gi < s.groups.length) {
        val g = s.groups(gi)
        val upd = ev.update(si)(gi)
        val buf =
          if (g.running) {
            val b = ev.running
            b.values = bufs(si)
            upd.target(b)(ev.joined(b, in))
            b
          } else {
            val b = ev.scratch(si)(gi)
            var c = 0
            while (c < g.init.length) { b.update(c, g.init(c)); c += 1 }
            g.imperative.foreach(_.initialize(b))
            upd.target(b)
            var q = math.max(0L, n + g.lower)
            while (q <= n + g.upper) {
              ev.ringRow.values = ring((q % s.ring).toInt)
              upd(ev.joined(b, ev.ringRow))
              g.imperative.foreach(_.update(b, ev.ringRow))
              q += 1
            }
            b
          }
        val res = ev.evaluate(si)(gi)(buf).asInstanceOf[ArrayRow].values
        var k = 0
        while (k < res.length) { slot(g.outSlots(k)) = res(k); k += 1 }
        var m = 0
        while (m < g.imperative.length) { slot(g.outSlots(k + m)) = g.imperative(m).eval(buf); m += 1 }
        gi += 1
      }
      var li = 0
      while (li < s.lagSlot.length) {
        val q = n - s.lagOffset(li)
        slot(s.lagSlot(li)) =
          if (q >= 0) ring((q % s.ring).toInt)(s.lagInput(li)) else s.lagDefault(li)
        li += 1
      }
      si += 1
    }
    n += 1
    ev.out.target(new ArrayRow(new Array[Any](p.fields.size)))(ev.slot).asInstanceOf[ArrayRow].values
  }
}
