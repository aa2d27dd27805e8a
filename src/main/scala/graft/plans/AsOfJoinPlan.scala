package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, BoundReference, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, TimestampNTZType, TimestampType}

/** Whole-operator as-of join as a first-class Catalyst citizen: a custom
  * LogicalPlan node, planned by a SparkStrategy into a custom SparkPlan
  * that merge-scans co-partitioned, co-sorted children.
  *
  * Semantics: for each left row, the most recent right row with
  * right.time <= left.time and the same key (LEFT OUTER: nulls when none).
  *
  * Why a custom operator (preference (c) in the design ladder): the
  * composed form (union + last(ignoreNulls) window, operators.AsOfJoin)
  * materializes the union and runs window-function machinery; this plan
  * declares ClusteredDistribution + per-partition ordering, so Catalyst
  * inserts exactly one exchange + sort per side, and execution is a
  * streaming two-pointer merge holding ONE buffered right row — O(1)
  * memory per partition regardless of key cardinality or history depth.
  * At 100 TB both sides stream; nothing is collected or windowed.
  *
  * Scope: ANY atomic key type (compared through the type's Catalyst
  * ordering) and any payload type (copied through InternalRow.copyValue,
  * so buffer-backed values like strings survive row reuse); the time
  * column is Long (epoch µs). Both directions (backward = most recent
  * at-or-before, forward = earliest at-or-after) and an optional time
  * tolerance (matches further than `toleranceUs` from the probe time
  * become nulls — pandas merge_asof-style) run in the same single-pass
  * merge.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    keyName: String, timeName: String, valueName: String,
    forward: Boolean = false, toleranceUs: Long = -1L,
    // constructor params (not body vals) so exprIds survive tree copies.
    // asofValue must be typed to the carried payload column — NativeAsOf
    // passes AttributeReference("asof_value", <right value dtype>)().
    asofValue: AttributeReference = AttributeReference("asof_value", DoubleType)(),
    asofTs: AttributeReference = AttributeReference("asof_ts_us", LongType)()) extends BinaryNode {

  // Columns are carried by NAME and re-resolved from the children on every
  // access: the analyzer (DeduplicateRelations) may re-id a child's
  // attributes (self-joins), and name-based resolution always tracks the
  // children's current output.
  private def attr(side: LogicalPlan, name: String): Attribute =
    side.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"AsOfJoinNode: no column $name in ${side.output}"))
  def leftKey: Attribute = attr(left, keyName)
  def rightKey: Attribute = attr(right, keyName)
  def leftTime: Attribute = attr(left, timeName)
  def rightTime: Attribute = attr(right, timeName)
  def rightValue: Attribute = attr(right, valueName)

  override def output: Seq[Attribute] = left.output :+ asofValue :+ asofTs

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(asofValue, asofTs))

  // keep the key/time/value columns alive through column pruning
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      Seq(leftKey, leftTime, rightKey, rightTime, rightValue))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightValue: Expression,
    forward: Boolean, toleranceUs: Long,
    asofValue: Attribute, asofTs: Attribute) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output :+ asofValue :+ asofTs

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(asofValue, asofTs))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  // ---- whole-stage codegen -----------------------------------------------
  // Produce-root pattern (same shape as SortMergeJoinExec): the exec drives
  // BOTH sorted inputs itself through inputRDDs, the generated processNext()
  // runs the two-pointer merge inline over UnsafeRows, and parent operators
  // (projections, filters, the top-of-stage row writer) fuse above it in the
  // same compiled function — no Iterator allocation or virtual next() per
  // probe row. The interpreted doExecute below stays as the fallback for
  // payload/key types outside the codegen set and for codegen-off sessions.
  //
  // Codegen'd type set: primitive-comparable keys plus UTF8String (cloned
  // out of the reused shuffle row buffer, the codegen analog of
  // InternalRow.copyValue); time columns are epoch-µs longs by API contract.
  private def codegenFriendly(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | BooleanType | DateType | TimestampType |
         TimestampNTZType | StringType => true
    case _ => false
  }

  override def supportCodegen: Boolean =
    leftTime.dataType == LongType && rightTime.dataType == LongType &&
      codegenFriendly(leftKey.dataType) && codegenFriendly(rightValue.dataType)

  // the merge buffers one right row across output rows; downstream buffering
  // operators must copy what the stage's shared row writer hands them
  override def needCopyResult: Boolean = true

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // both children are read through inputRDDs and never produce() into this
  // stage, so the probe loop below is the stage's only row producer — the
  // place a parent LIMIT's stop condition belongs (as in a leaf scan)
  override protected def canCheckLimitNotReached: Boolean = true

  // values extracted from the (reused) right-side row buffer must outlive
  // the next rightInput.next() call: primitives copy by value, strings clone
  private def copyOut(dt: DataType, v: String): String = dt match {
    case StringType => s"$v.clone()"
    case _ => v
  }

  protected override def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];", forceInline = true)
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];", forceInline = true)
    // the buffered right head: null means "fetch on next demand". Holding a
    // reference WITHOUT calling next() again is safe — shuffle readers reuse
    // the row object only on the next next() call.
    val rightHead = ctx.addMutableState("InternalRow", "asofRightHead", forceInline = true)

    val keyDt = leftKey.dataType
    val valDt = rightValue.dataType
    val keyJt = CodeGenerator.javaType(keyDt)
    val valJt = CodeGenerator.javaType(valDt)

    val matchTs = ctx.addMutableState(CodeGenerator.JAVA_LONG, "asofMatchTs")
    val matchVal = ctx.addMutableState(valJt, "asofMatchVal")
    val matchValNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "asofMatchValNull")
    val haveMatch = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "asofHaveMatch")
    val matchKey = ctx.addMutableState(keyJt, "asofMatchKey")
    val matchKeyNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "asofMatchKeyNull")

    // right-side column access against the buffered head row
    ctx.INPUT_ROW = rightHead
    ctx.currentVars = null
    val rKeyEv = BindReferences.bindReference(rightKey, right.output).genCode(ctx)
    val rTimeEv = BindReferences.bindReference(rightTime, right.output).genCode(ctx)
    val rValEv = BindReferences.bindReference(rightValue, right.output).genCode(ctx)

    val kNullArg = ctx.freshName("kNull")
    val kArg = ctx.freshName("k")
    val tArg = ctx.freshName("t")
    val cmp = ctx.freshName("cmp")
    val rkNull = ctx.freshName("rkNull")
    val rt = ctx.freshName("rt")
    // merge comparison with SortOrder(Ascending) nulls-first semantics;
    // null keys never MATCH (ok requires both sides non-null) but must
    // still order correctly so the frontier stays monotone
    val cmpBlock =
      s"""
         |boolean $rkNull = ${rKeyEv.isNull};
         |int $cmp;
         |if ($rkNull && $kNullArg) { $cmp = 0; }
         |else if ($rkNull) { $cmp = -1; }
         |else if ($kNullArg) { $cmp = 1; }
         |else { $cmp = ${ctx.genComp(keyDt, rKeyEv.value.toString, kArg)}; }
       """.stripMargin

    val probeFn = if (!forward) {
      // BACKWARD: consume every right row at-or-before (k, t); the last one
      // consumed is the candidate. Carries state across left rows.
      ctx.addNewFunction("asofProbeBackward",
        s"""
           |private boolean asofProbeBackward(boolean $kNullArg, $keyJt $kArg, long $tArg) {
           |  while (true) {
           |    if ($rightHead == null) {
           |      if (!$rightInput.hasNext()) break;
           |      $rightHead = (InternalRow) $rightInput.next();
           |    }
           |    ${rKeyEv.code}
           |    ${rTimeEv.code}
           |    $cmpBlock
           |    long $rt = ${rTimeEv.value};
           |    if ($cmp < 0 || ($cmp == 0 && $rt <= $tArg)) {
           |      ${rValEv.code}
           |      $matchKeyNull = ${rKeyEv.isNull};
           |      $matchKey = $matchKeyNull ? ${CodeGenerator.defaultValue(keyDt)}
           |        : ${copyOut(keyDt, rKeyEv.value.toString)};
           |      $matchTs = $rt;
           |      $matchValNull = ${rValEv.isNull};
           |      $matchVal = $matchValNull ? ${CodeGenerator.defaultValue(valDt)}
           |        : ${copyOut(valDt, rValEv.value.toString)};
           |      $haveMatch = true;
           |      $rightHead = null;
           |    } else {
           |      break;
           |    }
           |  }
           |  return $haveMatch && !$matchKeyNull && !$kNullArg &&
           |    ${ctx.genEqual(keyDt, matchKey, kArg)} &&
           |    (${toleranceUs}L < 0 || $tArg - $matchTs <= ${toleranceUs}L);
           |}
         """.stripMargin)
    } else {
      // FORWARD: discard every right row strictly before (k, t), then PEEK
      // the head without consuming — it may also serve later probes at the
      // same key (left times ascend, so the frontier is monotone). The match
      // is consumed by the caller in the same iteration, so no copy needed.
      ctx.addNewFunction("asofProbeForward",
        s"""
           |private boolean asofProbeForward(boolean $kNullArg, $keyJt $kArg, long $tArg) {
           |  while (true) {
           |    if ($rightHead == null) {
           |      if (!$rightInput.hasNext()) return false;
           |      $rightHead = (InternalRow) $rightInput.next();
           |    }
           |    ${rKeyEv.code}
           |    ${rTimeEv.code}
           |    $cmpBlock
           |    long $rt = ${rTimeEv.value};
           |    if ($cmp < 0 || ($cmp == 0 && $rt < $tArg)) { $rightHead = null; continue; }
           |    if ($cmp == 0 && !$kNullArg &&
           |        (${toleranceUs}L < 0 || $rt - $tArg <= ${toleranceUs}L)) {
           |      ${rValEv.code}
           |      $matchValNull = ${rValEv.isNull};
           |      $matchVal = $matchValNull ? ${CodeGenerator.defaultValue(valDt)}
           |        : ${rValEv.value};
           |      $matchTs = $rt;
           |      return true;
           |    }
           |    return false;
           |  }
           |}
         """.stripMargin)
    }

    // left-side loop: one output row per probe row, fused into the parent
    val leftRow = ctx.freshName("asofLeftRow")
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val lKeyEv = BindReferences.bindReference(leftKey, left.output).genCode(ctx)
    val lTimeEv = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }

    val ok = ctx.freshName("asofOk")
    val outValNull = ctx.freshName("asofOutValNull")
    val outVal = ctx.freshName("asofOutVal")
    val outTsNull = ctx.freshName("asofOutTsNull")
    val outTs = ctx.freshName("asofOutTs")
    val valEv = ExprCode(JavaCode.isNullVariable(outValNull), JavaCode.variable(outVal, valDt))
    val tsEv = ExprCode(JavaCode.isNullVariable(outTsNull), JavaCode.variable(outTs, LongType))

    val numOutput = metricTerm(ctx, "numOutputRows")
    s"""
       |while ($limitNotReachedCond $leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  $numOutput.add(1);
       |  ${lKeyEv.code}
       |  ${lTimeEv.code}
       |  boolean $ok = $probeFn(${lKeyEv.isNull}, ${lKeyEv.value}, ${lTimeEv.value});
       |  boolean $outValNull = !$ok || $matchValNull;
       |  $valJt $outVal = $outValNull ? ${CodeGenerator.defaultValue(valDt)} : $matchVal;
       |  boolean $outTsNull = !$ok;
       |  long $outTs = $matchTs;
       |  ${consume(ctx, leftVars ++ Seq(valEv, tsEv))}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rValue = BindReferences.bindReference(rightValue, right.output)

    val outputAttrs = output
    left.execute().zipPartitions(right.execute()) { (leftIt, rightIt) =>
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outputAttrs, outputAttrs)
      // any atomic key type compares through its Catalyst ordering;
      // payload values copy out of reused row buffers via copyValue
      val keyOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(leftKey.dataType)
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val matchRow = new GenericInternalRow(2)
        private val nullRow = {
          val r = new GenericInternalRow(2); r.setNullAt(0); r.setNullAt(1); r
        }
        private val rIt = rightIt.buffered
        // the single buffered "most recent right row at-or-before" state
        private var haveMatch = false
        private var matchKey: Any = null
        private var matchTs = 0L
        private var matchVal: Any = null

        override def hasNext: Boolean = leftIt.hasNext

        override def next(): InternalRow = {
          val l = leftIt.next()
          numOutputRows += 1
          val k = lKey.eval(l)
          val t = lTime.eval(l).asInstanceOf[Long]
          if (!forward) {
            // advance the right side through every row at-or-before (k, t);
            // the last one consumed is the most recent match
            while (rIt.hasNext && {
              val cmp = keyOrd.compare(rKey.eval(rIt.head), k)
              cmp < 0 || (cmp == 0 && rTime.eval(rIt.head).asInstanceOf[Long] <= t)
            }) {
              val r = rIt.next()
              matchKey = InternalRow.copyValue(rKey.eval(r))
              matchTs = rTime.eval(r).asInstanceOf[Long]
              matchVal = InternalRow.copyValue(rValue.eval(r))
              haveMatch = true
            }
            if (haveMatch && keyOrd.compare(matchKey, k) == 0 &&
                (toleranceUs < 0 || t - matchTs <= toleranceUs)) {
              matchRow.update(0, matchVal)
              matchRow.update(1, matchTs)
              toUnsafe(joined(l, matchRow))
            } else {
              toUnsafe(joined(l, nullRow))
            }
          } else {
            // advance PAST every row strictly before (k, t); then PEEK the
            // head without consuming — it may be the earliest at-or-after
            // match for this left row AND for later probes at the same key
            // (left times ascend, so the advance frontier is monotone)
            while (rIt.hasNext && {
              val cmp = keyOrd.compare(rKey.eval(rIt.head), k)
              cmp < 0 || (cmp == 0 && rTime.eval(rIt.head).asInstanceOf[Long] < t)
            }) rIt.next()
            var ok = false
            if (rIt.hasNext && keyOrd.compare(rKey.eval(rIt.head), k) == 0) {
              val hts = rTime.eval(rIt.head).asInstanceOf[Long]
              if (toleranceUs < 0 || hts - t <= toleranceUs) {
                matchRow.update(0, rValue.eval(rIt.head))
                matchRow.update(1, hts)
                ok = true
              }
            }
            if (ok) toUnsafe(joined(l, matchRow))
            else toUnsafe(joined(l, nullRow))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans AsOfJoinNode → AsOfJoinExec. Injected via GraftExtensions or
  * runtime `spark.experimental.extraStrategies`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(planLater(n.left), planLater(n.right),
        n.leftKey, n.rightKey, n.leftTime, n.rightTime, n.rightValue,
        n.forward, n.toleranceUs, n.asofValue, n.asofTs) :: Nil
    case _ => Nil
  }
}

object NativeAsOf {
  /** As-of join `left` to `right` on key (any atomic type) and time
    * (Long epoch µs), carrying right's `valueCol` (any type). `forward`
    * picks the earliest at-or-after match instead of the most recent
    * at-or-before; `toleranceUs >= 0` nulls matches further than that
    * from the probe time. */
  def asOf(left: DataFrame, right: DataFrame, keyCol: String, timeCol: String,
           valueCol: String, forward: Boolean = false,
           toleranceUs: Long = -1L): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    val valueType = right.schema(valueCol).dataType
    val node = AsOfJoinNode(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      keyCol, timeCol, valueCol, forward, toleranceUs,
      asofValue = AttributeReference("asof_value", valueType)())
    org.apache.spark.sql.GraftSqlShim.ofRows(spark, node)
  }
}
