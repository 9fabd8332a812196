package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSeq, BindReferences, Expression, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Exact per-group top-k as a FIRST-CLASS PLAN OPERATOR — the complete
  * Catalyst extension stack (SURVEY §2 custom-operator ladder, rung (c)):
  * a logical node ([[TopKPerGroup]]), a planner strategy
  * ([[TopKStrategy]]) that lowers it to a partial/final pair of physical
  * operators ([[TopKExec]]), installed in every session by the classpath
  * extensions provider [[graft.GraftExtensions]].
  *
  * Execution shape (the reason a plan operator beats a window function):
  * the PARTIAL exec keeps a bounded k-entry heap per group inside each
  * input partition — no sort, no per-row shuffle row — so only
  * k × groups × partitions candidate rows reach the exchange;
  * EnsureRequirements inserts that exchange because the FINAL exec
  * declares `ClusteredDistribution(group)`, and the final merge re-heaps
  * the survivors and emits ranked rows. This is the fourth pinned engine
  * path for top-k beside the window (e04), the typed Aggregator udaf
  * (e06), and the native TypedImperativeAggregate (e07) — all four share
  * one oracle.
  *
  * Scope: value must be DoubleType and the tie-breaker LongType
  * (rank = row_number over value DESC, tie ASC); rows with a NULL value
  * are excluded (none exist in the pinned tables — the oracle would see
  * them too).
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    valueExpr: Expression,
    tieExpr: Expression,
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan,
    maxPartialGroups: Int = Int.MaxValue) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rankAttr is minted here, not read from the child — declare it or the
  // analyzer reports it as an attribute missing from the input
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/** Lowers [[TopKPerGroup]] to partial + final [[TopKExec]]. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, v, t, k, rank, child, cap) =>
      val partial = TopKExec(g, v, t, k, partial = true, rank, planLater(child), cap)
      // the FINAL side must see every group it is asked to rank — the
      // cap applies to the pre-shuffle heaps only
      TopKExec(g, v, t, k, partial = false, rank, partial) :: Nil
    case _ => Nil
  }
}

/** Per-task bounded top-k heap store, shared by the interpreted
  * `doExecute` path and the whole-stage-generated code (which calls
  * [[insert]] directly — the structure lives OUTSIDE the generated class
  * so the Janino-compiled code stays tiny). Keys and kept rows are
  * copied on retention only; probe/reject paths never allocate.
  */
final class TopKRowBuffer(k: Int, maxGroups: Int = Int.MaxValue) {
  import TopKRowBuffer._
  private val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[Entry]]
  private var passedThrough = 0L

  /** `group` and `row` may be transient (reused) buffers — copied iff kept. */
  def insert(group: UnsafeRow, value: Double, tie: Long, row: UnsafeRow): Unit = {
    val absorbed = handle(group, value, tie, row)
    assert(absorbed, "insert() requires an uncapped buffer; use handle()")
  }

  /** Capped form: returns true when the row was absorbed (kept or
    * correctly discarded as below its group's top-k), false when the
    * buffer is at `maxGroups` and the group is UNSEEN — the caller must
    * pass the row through to the exchange unfiltered. Pass-through keeps
    * partial memory bounded at maxGroups × k rows for ANY group
    * cardinality; the final exec ranks whatever arrives, so a
    * passed-through superset is always correct (it just shuffles more).
    */
  def handle(group: UnsafeRow, value: Double, tie: Long, row: UnsafeRow): Boolean = {
    val heap = heaps.get(group) match {
      case Some(h) => h
      case None =>
        if (heaps.size >= maxGroups) {
          passedThrough += 1
          return false
        }
        val h = mutable.PriorityQueue.empty[Entry](WorstFirst)
        heaps.put(group.copy(), h)
        h
    }
    if (heap.size < k) {
      heap.enqueue((value, tie, row.copy()))
    } else {
      val (wv, wt, _) = heap.head
      if (value > wv || (value == wv && tie < wt)) {
        heap.dequeue()
        heap.enqueue((value, tie, row.copy()))
      }
    }
    true
  }

  def numPassedThrough: Long = passedThrough

  def numGroups: Int = heaps.size

  /** Surviving rows, group order then heap order (partial contract:
    * unranked candidate set).
    */
  def partialRows: Iterator[UnsafeRow] =
    heaps.valuesIterator.flatMap(_.iterator.map(_._3))

  /** Per-group entries, best-first (final contract: rank source). */
  def rankedGroups: Iterator[Seq[Entry]] =
    heaps.valuesIterator.map(_.dequeueAll.reverse)
}

object TopKRowBuffer {
  /** (value, tie, row); "worse ranks higher" so the heap head is the
    * weakest kept entry: smaller value first, then larger tie.
    */
  type Entry = (Double, Long, UnsafeRow)
  val WorstFirst: Ordering[Entry] = new Ordering[Entry] {
    override def compare(a: Entry, b: Entry): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }
}

/** Bounded-heap per-group top-k. Partial mode runs on whatever
  * distribution the child has and emits surviving child rows; final mode
  * requires `ClusteredDistribution(group)` (EnsureRequirements plans the
  * exchange) and appends the rank column. Per-task memory is
  * O(groups-in-partition × k) — no full-group materialization anywhere.
  *
  * BOTH sides participate in WHOLE-STAGE CODEGEN (the blocking-operator
  * pattern SortExec uses). Partial: fused with the child scan, the
  * generated consume path evaluates group/value/tie straight off the
  * scan's column variables and feeds the heap — no row materialization
  * boundary between scan and top-k; the produce path then streams the
  * survivors. Final: post-exchange, the InputAdapter's rows feed the
  * same generated consume, and the produce path streams ranked rows
  * (child row ++ rank) into the downstream stage — the rank projection
  * fuses with whatever follows instead of forcing an interpreted
  * boundary between the exchange and the consumer.
  */
case class TopKExec(
    groupExprs: Seq[Expression],
    valueExpr: Expression,
    tieExpr: Expression,
    k: Int,
    partial: Boolean,
    rankAttr: Attribute,
    child: SparkPlan,
    maxPartialGroups: Int = Int.MaxValue) extends UnaryExecNode
    with org.apache.spark.sql.execution.BlockingOperatorWithCodegen {

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numGroups" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of groups"),
    "numPassThrough" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "rows passed through (group cap)"))

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    if (partial) org.apache.spark.sql.catalyst.expressions.AttributeSet.empty
    else org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  /** Called from the generated code (and the interpreted path) — one
    * fresh buffer per task. The cap applies to the PARTIAL side only
    * (the final side must see every group it ranks).
    */
  def createBuffer(): TopKRowBuffer =
    new TopKRowBuffer(k, if (partial) maxPartialGroups else Int.MaxValue)

  /** Pass-through store for the CAPPED generated partial: rows of
    * groups beyond the cap cannot be emitted mid-stream from a blocking
    * produce loop, so they accumulate here — in memory up to the
    * window-exec threshold, SPILLING TO DISK beyond it (the same
    * ExternalAppendOnlyUnsafeRowArray WindowExec/SortMergeJoin buffer
    * with). Heap memory therefore stays bounded at maxGroups × k kept
    * rows + the in-memory threshold, for ANY group cardinality.
    */
  def createPassArray(): org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    new org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray(
      conf.windowExecBufferInMemoryThreshold, Long.MaxValue,
      conf.windowExecBufferSpillThreshold, conf.windowExecBufferSpillSizeThreshold)
  }

  /** Drain for the capped generated partial: kept heap rows, then the
    * (possibly spilled) pass-through rows.
    */
  def partialDrain(buffer: TopKRowBuffer,
      pass: org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray): Iterator[UnsafeRow] =
    buffer.partialRows ++ pass.generateIterator()

  /** Final-side output iterator over a drained buffer: child row ++
    * rank, best-first within each group — the generated produce path
    * calls this (same JoinedRow + projection the interpreted path uses;
    * the projection reuses its buffer, as partialRows' stored rows do).
    */
  def rankedOutput(buffer: TopKRowBuffer): Iterator[UnsafeRow] = {
    val resultProj = UnsafeProjection.create(output, output)
    val joined = new JoinedRow
    val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    buffer.rankedGroups.flatMap { entries =>
      entries.iterator.zipWithIndex.map { case (e, i) =>
        rankRow.update(0, i + 1)
        resultProj(joined(e._3, rankRow))
      }
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val (groups, v, t, isPartial) = (groupExprs, valueExpr, tieExpr, partial)
    val (kk, cap) = (k, maxPartialGroups)
    val finalOutput = output
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(groups, childOutput)
      // identity projection: stored rows must be UnsafeRow regardless of
      // what the child produces (the buffer copies what it keeps)
      val copyProj = UnsafeProjection.create(childOutput, childOutput)
      val vBound = BindReferences.bindReference(v, AttributeSeq(childOutput))
      val tBound = BindReferences.bindReference(t, AttributeSeq(childOutput))
      val buffer = new TopKRowBuffer(kk, if (isPartial) cap else Int.MaxValue)
      if (isPartial) {
        // pipelined: rows of groups beyond the cap stream straight to the
        // output (memory stays maxGroups x k); kept heaps drain at the end
        val numPassThrough = longMetric("numPassThrough")
        val passThrough = iter.flatMap { row =>
          val vv = vBound.eval(row)
          if (vv == null) Iterator.empty
          else if (buffer.handle(groupProj(row), vv.asInstanceOf[Double],
            tBound.eval(row).asInstanceOf[Long], copyProj(row))) Iterator.empty
          else {
            numPassThrough += 1
            numOutputRows += 1
            Iterator.single(copyProj(row).copy(): InternalRow)
          }
        }
        // lazy concat: the drain runs only after the input is exhausted
        passThrough ++ {
          numGroups += buffer.numGroups
          buffer.partialRows.map { r => numOutputRows += 1; r: InternalRow }
        }
      } else {
        iter.foreach { row =>
          val vv = vBound.eval(row)
          if (vv != null) {
            buffer.insert(groupProj(row), vv.asInstanceOf[Double],
              tBound.eval(row).asInstanceOf[Long], copyProj(row))
          }
        }
        numGroups += buffer.numGroups
        val resultProj = UnsafeProjection.create(finalOutput, finalOutput)
        val joined = new JoinedRow
        val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        buffer.rankedGroups.flatMap { entries =>
          entries.iterator.zipWithIndex.map { case (e, i) =>
            rankRow.update(0, i + 1)
            numOutputRows += 1
            resultProj(joined(e._3, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  // ---- whole-stage codegen (both sides) -----------------------------

  // BOTH partial forms fuse. The capped (memory-hardened) partial
  // cannot emit pass-through rows MID-stream from a blocking produce
  // loop, so they land in a spillable ExternalAppendOnlyUnsafeRowArray
  // instead and drain after the heaps — fusion AND a hard memory bound.
  // The FINAL side always fuses: post-exchange it reads through an
  // InputAdapter, heaps the k x groups x partitions survivors, and
  // streams ranked rows into the downstream stage.
  override def supportCodegen: Boolean = true

  private def capped: Boolean = partial && maxPartialGroups != Int.MaxValue

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String = {
    val needInput = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "topkNeedsInput",
      v => s"$v = true;")
    val thisPlan = ctx.addReferenceObj("plan", this)
    bufferTerm = ctx.addMutableState(classOf[TopKRowBuffer].getName, "topkBuffer",
      v => s"$v = $thisPlan.createBuffer();", forceInline = true)
    passTerm =
      if (capped) ctx.addMutableState(
        classOf[org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray].getName,
        "topkPass", v => s"$v = $thisPlan.createPassArray();", forceInline = true)
      else null
    val iterTerm = ctx.addMutableState("scala.collection.Iterator", "topkOutput")
    val fnName = ctx.freshName("addToTopK")
    val addInputFn = ctx.addNewFunction(fnName,
      s"""
         |private void $fnName() throws java.io.IOException {
         |  ${child.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin, inlineToOuterClass = true)
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val numGroups = metricTerm(ctx, "numGroups")
    val outputRow = ctx.freshName("topkRow")
    val drained =
      if (capped) s"$thisPlan.partialDrain($bufferTerm, $passTerm)"
      else if (partial) s"$bufferTerm.partialRows()"
      else s"$thisPlan.rankedOutput($bufferTerm)"
    val recordPass =
      if (capped) s"${metricTerm(ctx, "numPassThrough")}.add($passTerm.length());"
      else ""
    s"""
       |if ($needInput) {
       |  $addInputFn();
       |  $numGroups.add($bufferTerm.numGroups());
       |  $recordPass
       |  $iterTerm = $drained;
       |  $needInput = false;
       |}
       |while ($limitNotReachedCond $iterTerm.hasNext()) {
       |  UnsafeRow $outputRow = (UnsafeRow) $iterTerm.next();
       |  $numOutputRows.add(1);
       |  ${consume(ctx, null, outputRow)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  // the buffer/pass-array state names are minted in doProduce (which
  // codegen calls before the child's consume reaches doConsume)
  private var bufferTerm: String = _
  private var passTerm: String = _

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    // rowVar.code (already built by consume()) embeds the evaluation of
    // every input column; the expression codes below therefore reduce to
    // plain variable reads (BoundReference consumes each input's code
    // exactly once)
    ctx.currentVars = input
    ctx.INPUT_ROW = null
    val keyCode = org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      .createCode(ctx, groupExprs.map(BindReferences.bindReference(_, AttributeSeq(child.output))))
    val vEv = BindReferences.bindReference(valueExpr, AttributeSeq(child.output)).genCode(ctx)
    val tEv = BindReferences.bindReference(tieExpr, AttributeSeq(child.output)).genCode(ctx)
    val absorb =
      if (capped)
        // cap tripped on an unseen group: the row goes to the spillable
        // pass-through array (handle() copies what it keeps; add() copies
        // what it stores — the transient row is safe either way)
        s"""if (!$bufferTerm.handle(${keyCode.value}, ${vEv.value}, ${tEv.value},
           |    (UnsafeRow) ${row.value})) {
           |  $passTerm.add((UnsafeRow) ${row.value});
           |}""".stripMargin
      else
        s"""$bufferTerm.insert(${keyCode.value}, ${vEv.value}, ${tEv.value},
           |  (UnsafeRow) ${row.value});""".stripMargin
    s"""
       |${row.code}
       |${vEv.code}
       |if (!(${vEv.isNull})) {
       |  ${keyCode.code}
       |  ${tEv.code}
       |  $absorb
       |}
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKPlan {
  /** Session conf for the default partial group cap. */
  val CapConf = "spark.graft.topk.maxPartialGroups"

  /** Default cap: 2^17 groups per task. Worst-case partial heap memory
    * is cap × k kept rows (~131k × k); beyond it rows spill through the
    * pass-through array instead of growing the heap map.
    */
  val CapDefault: Int = 1 << 17

  /** Top-k rows per group as a DataFrame: child columns + an IntegerType
    * rank column (`rankName`), rank = position under (value DESC, tie
    * ASC) within the group. Plans through [[TopKStrategy]], which
    * [[graft.GraftExtensions]] installs in every session when it is built.
    */
  /** `maxPartialGroups` bounds pre-shuffle heap memory at maxGroups × k
    * kept rows per task: rows of groups beyond the cap go to a
    * SPILLABLE pass-through array and shuffle unfiltered (correct, just
    * less reduction), so partial memory is hard-bounded for ANY group
    * cardinality — with whole-stage codegen either way. Pass 0 (the
    * default) to take the session conf [[CapConf]] (default
    * [[CapDefault]] groups — at the shipped k≤10 that is well under
    * typical executor task memory); Int.MaxValue disables the cap.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], valueCol: String,
      tieCol: String, k: Int, rankName: String = "rn",
      maxPartialGroups: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxPartialGroups >= 0, s"maxPartialGroups must be >= 0, got $maxPartialGroups")
    val spark = df.sparkSession
    val cap =
      if (maxPartialGroups == 0) spark.conf.get(CapConf, CapDefault.toString).toInt
      else maxPartialGroups
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column '$n' in ${analyzed.output.map(_.name)}"))
    val v = attr(valueCol)
    val t = attr(tieCol)
    require(v.dataType == DoubleType, s"value column must be double, got ${v.dataType}")
    require(t.dataType == LongType, s"tie column must be long, got ${t.dataType}")
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      TopKPerGroup(groupCols.map(attr), v, t, k, rankAttr, analyzed, cap))
  }
}
