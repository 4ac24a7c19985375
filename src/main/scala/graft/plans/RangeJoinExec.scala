package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Physical range join: sort-merge sweep with a sliding right-side window.
  *
  * Requirements declared to the planner: both children clustered on the
  * join keys (EnsureRequirements inserts the hash exchanges and makes them
  * co-partitioned) and sorted by (keys..., ts) — the same machinery that
  * feeds SortMergeJoinExec.
  *
  * Per partition, both inputs arrive key-grouped and time-sorted. For each
  * left key group the matching right group is buffered (same exposure as
  * SMJ with duplicate keys); within the group a two-pointer window over
  * the buffer emits pairs with rts ∈ [lts+lo, lts+hi). Both pointers only
  * move forward per left row, so the sweep is linear in group sizes plus
  * output. The merge loop itself lives in [[RangeJoinScanner]], shared by
  * the interpreted path and the whole-stage-codegen path (the node
  * implements [[CodegenSupport]] the way SortMergeJoinExec does: generated
  * code drives the scanner and consumes columns straight from the current
  * row pair, so downstream operators fuse and no per-pair UnsafeRow is
  * materialized inside the stage).
  */
case class RangeJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    loMicros: Long,
    hiMicros: Long) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)))

  // Group-buffer spill knobs: the same session confs SortMergeJoinExec
  // reads for ITS duplicate-key buffer, captured on the driver at plan
  // time and shipped to the per-partition scanner factory.
  private def scannerFactory = {
    val (inMem, spillRows, spillSize) =
      org.apache.spark.sql.graftbridge.SpillableRowBuffer.smjThresholds(conf)
    new RangeJoinScannerFactory(
      leftKeys, rightKeys, leftTs, rightTs, left.output, right.output,
      loMicros, hiMicros, inMem, spillRows, spillSize)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val factory = scannerFactory
    val schema = output
    val leftOut = left.output
    val rightOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val scanner = factory.create(lIter, rIter)
      val outProj = UnsafeProjection.create(schema.map(a => a: Expression), leftOut ++ rightOut)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        private var ready = false
        override def hasNext: Boolean = {
          if (!ready) ready = scanner.advanceNext()
          ready
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          ready = false
          outProj(joined(scanner.getLeft, scanner.getRight))
        }
      }
    }
  }

  // ---- whole-stage codegen (the SortMergeJoinExec pattern) ----

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // Output rows reference the scanner's reused buffers — parents that
  // buffer must copy.
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val factoryName = classOf[RangeJoinScannerFactory].getName
    val scannerName = classOf[RangeJoinScanner].getName
    val factoryRef = ctx.addReferenceObj("rangeJoinFactory", scannerFactory, factoryName)
    val scanner = ctx.addMutableState(scannerName, "rangeJoinScanner",
      v => s"$v = $factoryRef.create(inputs[0], inputs[1]);", forceInline = true)
    val leftRow = ctx.addMutableState("InternalRow", "rangeJoinLeftRow")
    val rightRow = ctx.addMutableState("InternalRow", "rangeJoinRightRow")

    // Column accessors evaluated from the two current rows; consume()
    // splices their code inside the loop, so downstream exprs read fields
    // directly — no JoinedRow, no output projection.
    ctx.currentVars = null
    ctx.INPUT_ROW = leftRow
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    ctx.INPUT_ROW = rightRow
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    ctx.INPUT_ROW = null
    s"""
       |while ($scanner.advanceNext()) {
       |  $leftRow = $scanner.getLeft();
       |  $rightRow = $scanner.getRight();
       |  ${consume(ctx, leftVars ++ rightVars).trim}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical [[RangeJoin]] to [[RangeJoinExec]].
  * Installed by [[graft.GraftExtensions]] (`injectPlannerStrategy`) on every
  * session from graft.runtime.Sessions.
  */
object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoin(l, r, lk, rk, lts, rts, lo, hi) =>
      RangeJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, lo, hi) :: Nil
    case _ => Nil
  }
}
