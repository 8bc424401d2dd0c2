package graft.plans

import graft.operators.VecScan
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

/** Physical semantic top-k join: declares `BroadcastDistribution` on the
  * right child, so Spark's own `EnsureRequirements` inserts a
  * `BroadcastExchangeExec` — the exchange brings its size guards, reuse
  * across identical subtrees, and AQE handling for free. The broadcast rows
  * are unpacked into the scan-ready [[VecScan.Mat]] once per executor
  * ([[MatCache]]); the left side then streams through the same scan as
  * [[VecScan.knn]] ([[VecScan.scanRdd]]): zero shuffle, ≤k output rows per
  * left row, no per-pair row materialization.
  *
  * Scale posture: identical to the DataFrame broadcast path — the right side
  * must fit a broadcast (enforced by the exchange), the left side streams
  * split by pair work. For an over-broadcast right side use the
  * DataFrame API ([[graft.operators.SemanticJoin.knnJoinVec]]), which falls
  * back to the shuffled crossJoin + partial-agg top-k plan automatically.
  */
case class SemanticTopKJoinExec(
    leftIdCol: String,
    leftVecCol: String,
    rightIdCol: String,
    rightVecCol: String,
    k: Int,
    excludeSelf: Boolean,
    output: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan)
  extends SparkPlan with BinaryExecNode {

  private def ordinalOf(child: SparkPlan, name: String): Int = {
    val i = child.output.indexWhere(a => conf.resolver(a.name, name))
    require(i >= 0, s"column $name not found in ${child.output.map(_.name).mkString(", ")}")
    i
  }

  private lazy val rightIdOrd = ordinalOf(right, rightIdCol)
  private lazy val rightVecOrd = ordinalOf(right, rightVecCol)
  private lazy val leftIdOrd = ordinalOf(left, leftIdCol)
  private lazy val leftVecOrd = ordinalOf(left, leftVecCol)

  private def elemType(child: SparkPlan, ord: Int): DataType =
    child.output(ord).dataType.asInstanceOf[ArrayType].elementType

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    UnspecifiedDistribution,
    BroadcastDistribution(org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode))

  override protected def doExecute(): RDD[InternalRow] = {
    val rowsBc = right.executeBroadcast[Array[InternalRow]]()
    val rIdOrd = rightIdOrd
    val rVecOrd = rightVecOrd
    val rIdType = right.output(rIdOrd).dataType
    val rElem = elemType(right, rVecOrd)
    val (nRight, dim) = MatCache.shape(rowsBc.value, rIdOrd, rVecOrd)
    VecScan.scanRdd(left.execute(), leftIdOrd, left.output(leftIdOrd).dataType,
      leftVecOrd, elemType(left, leftVecOrd), MatCache.estimatedRows(left), nRight, dim,
      () => MatCache.get(rowsBc.value, rIdOrd, rIdType, rVecOrd, rElem),
      VecScan.KnnSpec(k, excludeSelf))
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SemanticTopKJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy lowering the semantic vector join nodes to their
  * broadcast physical forms — registered by [[graft.GraftExtensions]]
  * (config path) or [[GraftPlans.install]] (live session).
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: SemanticTopKJoin =>
      SemanticTopKJoinExec(
        j.leftIdCol, j.leftVecCol, j.rightIdCol, j.rightVecCol,
        j.k, j.excludeSelf, j.output, planLater(j.left), planLater(j.right)) :: Nil
    case j: SemanticRangeJoin =>
      SemanticRangeJoinExec(
        j.leftIdCol, j.leftVecCol, j.rightIdCol, j.rightVecCol,
        j.tau, j.excludeSelf, j.keepUnmatched, j.output,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}
