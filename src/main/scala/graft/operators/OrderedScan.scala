package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

/** One step of an [[OrderedScan]]. A step is an expression only so that
  * Catalyst sees (and rewrites) the columns it reads; the scan evaluates it
  * in its own pass, never through `eval` or generated code.
  *
  * Missing values follow the reference's is_missing: NULL and NaN both are
  * missing in every numeric input (the scan reads them as NaN).
  */
sealed abstract class ScanStep extends Expression with Unevaluable {
  override def nullable: Boolean = true
  protected def numeric(inputs: Expression*): TypeCheckResult =
    inputs.find(e => !e.dataType.isInstanceOf[NumericType]) match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a numeric input, got ${e.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
}

/** The value `-offset` rows back (`lag`, offset < 0) or `offset` rows ahead
  * (`lead`) in the partition.
  */
final case class ShiftStep(child: Expression, offset: Int) extends ScanStep {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = child.dataType
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ShiftStep =
    copy(child = c.head)
}

/** Statistic over the last `window` positions, current row included. */
final case class RollingStep(child: Expression, window: Int, statistic: String,
                             minSamples: Int) extends ScanStep {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = numeric(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RollingStep =
    copy(child = c.head)
}

/** Sum of exactly the next `window` values, current excluded. */
final case class ForwardSumStep(child: Expression, window: Int) extends ScanStep {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = numeric(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ForwardSumStep =
    copy(child = c.head)
}

/** A missing value imputed from the previous `window` positions. */
final case class FillStep(child: Expression, window: Int, statistic: String,
                          minSamples: Int) extends ScanStep {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = numeric(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FillStep =
    copy(child = c.head)
}

/** The last non-missing value so far in the partition. */
final case class ForwardFillStep(child: Expression) extends ScanStep {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = numeric(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ForwardFillStep =
    copy(child = c.head)
}

/** Least-squares slope of y on x over the last `window` valid pairs; a
  * missing pair clears the window.
  */
final case class SlopeStep(x: Expression, y: Expression, window: Int) extends ScanStep {
  override def children: Seq[Expression] = Seq(x, y)
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = numeric(x, y)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SlopeStep =
    copy(x = c(0), y = c(1))
}

/** 0-based session index: a new session starts after a gap over `gapUs`. */
final case class SessionStep(time: Expression, gapUs: Long) extends ScanStep {
  override def children: Seq[Expression] = Seq(time)
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = time.dataType match {
    case TimestampType | TimestampNTZType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sessionize needs a timestamp time column, got ${other.catalogString}")
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SessionStep =
    copy(time = c.head)
}

/** The list of the last `size` values (NULLs keep their position) on every
  * row that emits a window — row number ≥ size, on the stride — NULL on
  * every other row.
  */
final case class SequenceStep(child: Expression, size: Int, stride: Int) extends ScanStep {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(child.dataType, child.nullable)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SequenceStep =
    copy(child = c.head)
}

/** Keeps the first or last row of each (partition, time) run of the scan's
  * order; adds no column.
  */
final case class CollapseStep(keepLast: Boolean) extends ScanStep {
  override def children: Seq[Expression] = Nil
  override def dataType: DataType = NullType
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CollapseStep = this
}

/** Every ordered transform of a stream as ONE sorted pass (Leis et al.,
  * VLDB 2015: evaluate all window functions of a partition over one sort).
  *
  * The node asks for its rows clustered by `partitionSpec` and sorted by
  * (partition, `orderSpec`), so the planner adds one exchange and one sort
  * (and, when the first step is a collapse, a map-side collapse over a
  * local sort ahead of the exchange; see [[OrderedScanExec]]).
  * Its steps then run in order, in plain Scala over the sorted rows: each
  * step keeps O(window) state that resets at every partition change, and
  * `lead`, `forward_sum` and `collapse` (keep last) hold back at most
  * `window` rows. Steps that add a column list it in `stepOutput`, in step
  * order; the output is the child's columns followed by those.
  *
  * A scan directly over another with the same key (through column-only
  * projections) fuses into it ([[FuseOrderedScans]]), so a chain of ordered
  * transforms costs one pass whatever its length.
  */
final case class OrderedScan(partitionSpec: Seq[Expression], orderSpec: Seq[SortOrder],
                             steps: Seq[ScanStep], stepOutput: Seq[Attribute],
                             child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ stepOutput
  override def producedAttributes: AttributeSet = AttributeSet(stepOutput)
  override protected def withNewChildInternal(c: LogicalPlan): OrderedScan = copy(child = c)
}

/** Physical [[OrderedScan]]: keeps its child's partitioning and ordering
  * (collapse only drops rows) and writes its rows with an interpreted
  * projection, so it compiles no class of its own.
  *
  * A `mapSide` scan asks for no distribution, only its order within each
  * input partition: it runs a leading collapse before the exchange, so only
  * one row per (partition, time) and map task is shuffled — the partial
  * step Spark's `WindowGroupLimit` runs for the `row_number() = 1` window.
  */
final case class OrderedScanExec(partitionSpec: Seq[Expression], orderSpec: Seq[SortOrder],
                                 steps: Seq[ScanStep], stepOutput: Seq[Attribute],
                                 child: SparkPlan, mapSide: Boolean = false)
    extends UnaryExecNode {
  override def nodeName: String = if (mapSide) "OrderedScanPartial" else "OrderedScan"
  override def output: Seq[Attribute] = child.output ++ stepOutput
  override def producedAttributes: AttributeSet = AttributeSet(stepOutput)
  override def requiredChildDistribution: Seq[Distribution] =
    if (mapSide) UnspecifiedDistribution :: Nil
    else if (partitionSpec.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionSpec) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partitionSpec.map(SortOrder(_, Ascending)) ++ orderSpec)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    // locals, so the task closure captures no plan node
    val (in, keys, time, scanSteps, added, out) = (child.output, partitionSpec,
      orderSpec.head.child, steps, stepOutput, output)
    child.execute().mapPartitions { rows =>
      OrderedScan.run(rows, in, keys, time, scanSteps, added, out)
        .map { r => numOutputRows += 1; r }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): OrderedScanExec = copy(child = c)
}

object OrderedScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: OrderedScan =>
      val input = s.steps.head match {
        case c: CollapseStep => OrderedScanExec(s.partitionSpec, s.orderSpec, Seq(c), Nil,
          planLater(s.child), mapSide = true)
        case _ => planLater(s.child)
      }
      OrderedScanExec(s.partitionSpec, s.orderSpec, s.steps, s.stepOutput, input) :: Nil
    case _ => Nil
  }
}

/** Fuses a scan into the scan below it when both have the same key and
  * only column-selecting projections stand between them (as
  * `CollapseWindow` fuses windows): the outer steps run after the inner
  * ones in the same pass.
  */
object FuseOrderedScans extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case outer: OrderedScan => below(outer.child) match {
      case Some(inner) if sameKey(outer, inner) =>
        val fused = inner.copy(steps = inner.steps ++ outer.steps,
          stepOutput = inner.stepOutput ++ outer.stepOutput)
        if (outer.child eq inner) fused else Project(outer.output, fused)
      case _ => outer
    }
  }

  private def below(p: LogicalPlan): Option[OrderedScan] = p match {
    case s: OrderedScan => Some(s)
    case Project(list, c) if list.forall(_.isInstanceOf[Attribute]) => below(c)
    case _ => None
  }

  private def sameKey(a: OrderedScan, b: OrderedScan): Boolean =
    a.partitionSpec.length == b.partitionSpec.length &&
      a.partitionSpec.zip(b.partitionSpec).forall { case (x, y) => x.semanticEquals(y) } &&
      a.orderSpec.length == b.orderSpec.length &&
      a.orderSpec.zip(b.orderSpec).forall { case (x, y) => x.semanticEquals(y) }
}

object OrderedScan {

  /** Installs the planner strategy and the fusion rule in `spark` (once;
    * a later call finds them and changes nothing).
    */
  def register(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(OrderedScanStrategy))
      ex.extraStrategies = OrderedScanStrategy +: ex.extraStrategies
    if (!ex.extraOptimizations.contains(FuseOrderedScans))
      ex.extraOptimizations = ex.extraOptimizations :+ FuseOrderedScans
  }

  /** `df` with one scan step on `key`. A step that adds a column writes
    * `to` with `withColumn` semantics (a same-named column is replaced in
    * place, otherwise the column is appended); a collapse adds none.
    * Builds the plan only: no Spark job runs.
    */
  def withStep(df: DataFrame, key: StreamKey, to: Option[String])(
      step: (String => Expression) => ScanStep): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val plan = df.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    def attr(name: String): Expression = plan.resolveQuoted(name, resolver) match {
      case Some(a: Attribute) => a
      case _ => throw new IllegalArgumentException(s"ordered transform: no column " +
        s"'$name' among [${plan.output.map(_.name).mkString(", ")}]")
    }
    val s = step(attr)
    val partition = key.partitionBy.map(attr)
    val order = (key.timeCol +: key.tiebreak).map(c => SortOrder(attr(c), Ascending))
    val scanned = to match {
      case None => OrderedScan(partition, order, Seq(s), Nil, plan)
      case Some(name) =>
        val added = AttributeReference(name, s.dataType, nullable = true)()
        val scan = OrderedScan(partition, order, Seq(s), Seq(added), plan)
        val cols =
          if (plan.output.exists(a => resolver(a.name, name)))
            plan.output.map(a => if (resolver(a.name, name)) added else a)
          else plan.output :+ added
        Project(cols, scan)
    }
    GraftColumnBridge.frame(spark, scanned)
  }

  // ------------------------------------------------------------- the pass

  /** A row of the pass: the child's row (copied — steps may hold it), the
    * values the steps added, and the ordinals of its partition and of its
    * (partition, time) run.
    */
  private final class Rec(val row: InternalRow, val added: Array[Any],
                          val part: Long, val run: Long)

  private[operators] def run(rows: Iterator[InternalRow], in: Seq[Attribute], keys: Seq[Expression],
                  time: Expression, steps: Seq[ScanStep], stepOutput: Seq[Attribute],
                  out: Seq[Attribute]): Iterator[InternalRow] = {
    val keyOf = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(keys, AttributeSeq(in)))
    val runOf = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(keys :+ time, AttributeSeq(in)))
    val collapses = steps.exists(_.isInstanceOf[CollapseStep])
    val width = stepOutput.length
    var part, runNo = 0L
    var lastKey, lastRun: UnsafeRow = null
    var recs: Iterator[Rec] = rows.map { r0 =>
      val r = r0.copy()
      val k = keyOf(r)
      if (lastKey == null || k != lastKey) { part += 1; lastKey = k.copy() }
      if (collapses) {
        val t = runOf(r)
        if (lastRun == null || t != lastRun) { runNo += 1; lastRun = t.copy() }
      }
      new Rec(r, new Array[Any](width), part, runNo)
    }
    // where each step's inputs live: a child column or an earlier step's slot
    val slots = scala.collection.mutable.Map.empty[ExprId, Int]
    def value(e: Expression): Rec => Any = e match {
      case a: Attribute if slots.contains(a.exprId) =>
        val j = slots(a.exprId); r => r.added(j)
      case a: Attribute =>
        val i = in.indexWhere(_.exprId == a.exprId)
        require(i >= 0, s"ordered scan: unbound input $a")
        val dt = a.dataType; r => r.row.get(i, dt)
      case other => throw new IllegalArgumentException(s"ordered scan input $other")
    }
    def number(e: Expression): Rec => Double = {
      val v = value(e)
      val toDouble: Any => Double = e.dataType match {
        case DoubleType => _.asInstanceOf[Double]
        case FloatType => _.asInstanceOf[Float].toDouble
        case LongType => _.asInstanceOf[Long].toDouble
        case IntegerType => _.asInstanceOf[Int].toDouble
        case ShortType => _.asInstanceOf[Short].toDouble
        case ByteType => _.asInstanceOf[Byte].toDouble
        case _: DecimalType => _.asInstanceOf[Decimal].toDouble
        case other => throw new IllegalArgumentException(
          s"ordered scan: ${other.catalogString} is not numeric")
      }
      r => { val x = v(r); if (x == null) Double.NaN else toDouble(x) }
    }
    var slot = 0
    steps.foreach { s =>
      val j = if (s.isInstanceOf[CollapseStep]) -1 else slot
      recs = s match {
        case CollapseStep(false) => Stages.collapseFirst(recs)
        case CollapseStep(true) => Stages.collapseLast(recs)
        case ShiftStep(c, n) if n < 0 => Stages.lag(recs, value(c), -n, j)
        case ShiftStep(c, n) => Stages.lead(recs, value(c), n, j)
        case RollingStep(c, w, stat, minS) => Stages.rolling(recs, number(c), w, stat, minS, j)
        case ForwardSumStep(c, w) => Stages.forwardSum(recs, number(c), w, j)
        case FillStep(c, w, stat, minS) => Stages.fill(recs, number(c), w, stat, minS, j)
        case ForwardFillStep(c) => Stages.forwardFill(recs, number(c), j)
        case SlopeStep(x, y, w) => Stages.slope(recs, number(x), number(y), w, j)
        case SessionStep(t, gap) => Stages.session(recs, value(t), gap, j)
        case SequenceStep(c, size, stride) => Stages.sequence(recs, value(c), size, stride, j)
      }
      if (j >= 0) { slots(stepOutput(slot).exprId) = slot; slot += 1 }
    }
    val write = InterpretedUnsafeProjection.createProjection(
      out.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
    val joined = new JoinedRow
    recs.map(r => write(joined(r.row, new GenericInternalRow(r.added))))
  }

  /** Median of buf[0, n) (sorted in place): odd → middle; even → lower +
    * (upper - lower) / 2, except a zero-straddling pair uses (lower +
    * upper) / 2 — the reference's RollingMedian branch; the two forms
    * differ in floating point.
    */
  private def median(buf: Array[Double], n: Int): Double = {
    java.util.Arrays.sort(buf, 0, n)
    if (n % 2 == 1) buf(n / 2)
    else {
      val lower = buf(n / 2 - 1)
      val upper = buf(n / 2)
      if (lower < 0.0 && upper > 0.0) (lower + upper) / 2.0
      else lower + (upper - lower) / 2.0
    }
  }

  /** The steps' per-partition passes. Each wraps the row iterator, keeps
    * state of at most `window` values, and resets it when the partition
    * ordinal changes. Aggregates are recomputed over the window in row
    * order with Spark's own update formulas (sum from 0.0; Welford moments
    * and co-moments), as the sliding window frame they replace did.
    */
  private object Stages {

    /** A 1:1 pass: `f` sees each row after `reset` at every partition start. */
    private def causal(recs: Iterator[Rec])(reset: () => Unit)(f: Rec => Unit): Iterator[Rec] = {
      var part = -1L
      recs.map { r =>
        if (r.part != part) { part = r.part; reset() }
        f(r)
        r
      }
    }

    /** A pass that holds rows back: `push` may release rows into `ready`,
      * `flush` releases the rest at a partition change and at the end.
      */
    private abstract class Held(recs: Iterator[Rec]) extends Iterator[Rec] {
      protected val ready = new java.util.ArrayDeque[Rec]
      private var part = -1L
      private var ended = false
      protected def push(r: Rec): Unit
      protected def flush(): Unit
      override def hasNext: Boolean = {
        while (ready.isEmpty && recs.hasNext) {
          val r = recs.next()
          if (r.part != part) { flush(); part = r.part }
          push(r)
        }
        if (ready.isEmpty && !ended) { flush(); ended = true }
        !ready.isEmpty
      }
      override def next(): Rec = {
        if (!hasNext) throw new NoSuchElementException
        ready.poll()
      }
    }

    def collapseFirst(recs: Iterator[Rec]): Iterator[Rec] = {
      var run = -1L
      recs.filter { r => val keep = r.run != run; run = r.run; keep }
    }

    def collapseLast(recs: Iterator[Rec]): Iterator[Rec] = new Held(recs) {
      private var held: Rec = null
      protected def push(r: Rec): Unit = {
        if (held != null && held.run != r.run) ready.add(held)
        held = r
      }
      protected def flush(): Unit = { if (held != null) ready.add(held); held = null }
    }

    def lag(recs: Iterator[Rec], v: Rec => Any, n: Int, j: Int): Iterator[Rec] = {
      val ring = new Array[Any](n)
      var seen = 0L
      causal(recs)(() => seen = 0L) { r =>
        val i = (seen % n).toInt
        r.added(j) = if (seen >= n) ring(i) else null
        ring(i) = v(r)
        seen += 1
      }
    }

    def lead(recs: Iterator[Rec], v: Rec => Any, n: Int, j: Int): Iterator[Rec] =
      new Held(recs) {
        private val pending = new java.util.ArrayDeque[Rec]
        protected def push(r: Rec): Unit = {
          pending.add(r)
          if (pending.size > n) {
            val head = pending.poll()
            head.added(j) = v(r)
            ready.add(head)
          }
        }
        protected def flush(): Unit = while (!pending.isEmpty) {
          val head = pending.poll()
          head.added(j) = null
          ready.add(head)
        }
      }

    /** The last `w` values of the partition, oldest first via `at(k)`. */
    private final class Window(w: Int) {
      private val buf = new Array[Double](w)
      private var seen = 0L
      def reset(): Unit = seen = 0L
      def add(x: Double): Unit = { buf((seen % w).toInt) = x; seen += 1 }
      def size: Int = math.min(seen, w.toLong).toInt
      def at(k: Int): Double = buf(((seen - size + k) % w).toInt)
    }

    /** A statistic over the window's non-missing values, or null below
      * `minS` of them.
      */
    private def statistic(win: Window, stat: String, minS: Int,
                          scratch: Array[Double]): Any = {
      var n = 0
      var k = 0
      while (k < win.size) {
        val x = win.at(k)
        if (!x.isNaN) { scratch(n) = x; n += 1 }
        k += 1
      }
      if (n < minS || n == 0) null
      else stat match {
        case "mean" =>
          var s = 0.0; k = 0
          while (k < n) { s += scratch(k); k += 1 }
          s / n
        case "max" => var m = scratch(0); k = 1
          while (k < n) { if (scratch(k) > m) m = scratch(k); k += 1 }
          m
        case "min" => var m = scratch(0); k = 1
          while (k < n) { if (scratch(k) < m) m = scratch(k); k += 1 }
          m
        case "stdev" | "pstdev" =>
          var cnt, avg, m2 = 0.0; k = 0
          while (k < n) {
            val x = scratch(k)
            val newN = cnt + 1.0
            val delta = x - avg
            val deltaN = delta / newN
            avg += deltaN
            m2 += delta * (delta - deltaN)
            cnt = newN; k += 1
          }
          if (stat == "pstdev") math.sqrt(m2 / cnt)
          else if (cnt == 1.0) null
          else math.sqrt(m2 / (cnt - 1.0))
        case "median" => median(scratch, n)
        case other => throw new IllegalArgumentException(s"Unknown statistic: $other")
      }
    }

    def rolling(recs: Iterator[Rec], v: Rec => Double, w: Int, stat: String, minS: Int,
                j: Int): Iterator[Rec] = {
      val win = new Window(w)
      val scratch = new Array[Double](w)
      causal(recs)(() => win.reset()) { r =>
        win.add(v(r))
        r.added(j) = statistic(win, stat, minS, scratch)
      }
    }

    def fill(recs: Iterator[Rec], v: Rec => Double, w: Int, stat: String, minS: Int,
             j: Int): Iterator[Rec] = {
      val win = new Window(w)
      val scratch = new Array[Double](w)
      causal(recs)(() => win.reset()) { r =>
        val x = v(r)
        r.added(j) = if (!x.isNaN) x else statistic(win, stat, minS, scratch)
        win.add(x)
      }
    }

    def forwardSum(recs: Iterator[Rec], v: Rec => Double, w: Int, j: Int): Iterator[Rec] =
      new Held(recs) {
        private val pending = new java.util.ArrayDeque[Rec]
        protected def push(r: Rec): Unit = {
          pending.add(r)
          if (pending.size > w) {
            val head = pending.poll()
            var s = 0.0
            var complete = true
            val it = pending.iterator()
            while (it.hasNext) {
              val x = v(it.next())
              if (x.isNaN) complete = false else s += x
            }
            head.added(j) = if (complete) s else null
            ready.add(head)
          }
        }
        protected def flush(): Unit = while (!pending.isEmpty) {
          val head = pending.poll()
          head.added(j) = null
          ready.add(head)
        }
      }

    def forwardFill(recs: Iterator[Rec], v: Rec => Double, j: Int): Iterator[Rec] = {
      var last: Any = null
      causal(recs)(() => last = null) { r =>
        val x = v(r)
        if (!x.isNaN) last = x
        r.added(j) = last
      }
    }

    def slope(recs: Iterator[Rec], xv: Rec => Double, yv: Rec => Double, w: Int,
              j: Int): Iterator[Rec] = {
      val xs = new Window(w)
      val ys = new Window(w)
      var valid = 0L
      def reset(): Unit = { xs.reset(); ys.reset(); valid = 0L }
      causal(recs)(() => reset()) { r =>
        val x = xv(r)
        val y = yv(r)
        if (x.isNaN || y.isNaN) { reset(); r.added(j) = null }
        else {
          xs.add(x); ys.add(y); valid += 1
          r.added(j) = if (valid < w) null else {
            // regr_slope = covar_pop(y, x) / var_pop(x), NULL when var_pop is 0
            var n, xAvg, yAvg, ck, m2 = 0.0
            var k = 0
            while (k < w) {
              val a = xs.at(k)
              val b = ys.at(k)
              val newN = n + 1.0
              val dx = a - xAvg
              val dxN = dx / newN
              val dy = b - yAvg
              xAvg += dxN
              yAvg += dy / newN
              ck += dx * (b - yAvg)
              m2 += dx * (dx - dxN)
              n = newN; k += 1
            }
            val varPop = m2 / n
            if (varPop == 0.0) null else (ck / n) / varPop
          }
        }
      }
    }

    def session(recs: Iterator[Rec], t: Rec => Any, gapUs: Long, j: Int): Iterator[Rec] = {
      var prev: Any = null
      var sessions = 0L
      causal(recs)(() => { prev = null; sessions = 0L }) { r =>
        val now = t(r)
        val fresh = prev == null ||
          (now != null && now.asInstanceOf[Long] - prev.asInstanceOf[Long] > gapUs)
        if (fresh) sessions += 1
        r.added(j) = sessions - 1
        prev = now
      }
    }

    def sequence(recs: Iterator[Rec], v: Rec => Any, size: Int, stride: Int,
                 j: Int): Iterator[Rec] = {
      val ring = new Array[Any](size)
      var rn = 0L
      causal(recs)(() => rn = 0L) { r =>
        ring((rn % size).toInt) = v(r)
        rn += 1
        r.added(j) =
          if (rn < size || (rn - size) % stride != 0) null
          else new GenericArrayData(Array.tabulate[Any](size)(k =>
            ring(((rn - size + k) % size).toInt)))
      }
    }
  }
}
