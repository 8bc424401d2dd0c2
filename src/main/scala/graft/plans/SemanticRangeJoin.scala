package graft.plans

import graft.operators.VecScan
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types._

/** Logical plan node for the similarity range join (θ-join on cosine ≥ τ) —
  * the planned form of the reference's second-most-used merge
  * (`merge_range`, /root/reference/src/linktransformer/infer.py:714-874) and
  * the Catalyst sibling of [[SemanticTopKJoin]]: same by-name bindings
  * ([[SemanticVecJoin]]), same broadcast lowering, a filter instead of a
  * top-k buffer.
  *
  * Output is `(left_id long, right_id long, score double)`; with
  * `keepUnmatched` (the reference's left-outer contract) every left id is
  * retained — unmatched ones (a null vector never matches) with null
  * right_id/score, so those two attributes are nullable exactly when
  * `keepUnmatched` is set. A left row with a null id yields no row. Scores are
  * bit-identical to [[graft.operators.SemanticJoin.rangeJoinVec]] (same
  * double op order + clamp via [[VecScan]]).
  *
  * Output attributes are a constructor field for the same reason as
  * [[SemanticTopKJoin]]: optimizer copies must preserve expression ids.
  */
case class SemanticRangeJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftIdCol: String,
    leftVecCol: String,
    rightIdCol: String,
    rightVecCol: String,
    tau: Double,
    excludeSelf: Boolean,
    keepUnmatched: Boolean,
    output: Seq[Attribute])
  extends SemanticVecJoin {

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SemanticRangeJoin =
    copy(left = newLeft, right = newRight)
}

object SemanticRangeJoin {
  def apply(
      left: LogicalPlan, right: LogicalPlan,
      leftIdCol: String, leftVecCol: String,
      rightIdCol: String, rightVecCol: String,
      tau: Double, excludeSelf: Boolean, keepUnmatched: Boolean): SemanticRangeJoin =
    SemanticRangeJoin(left, right, leftIdCol, leftVecCol, rightIdCol, rightVecCol,
      tau, excludeSelf, keepUnmatched, freshOutput(keepUnmatched))

  def freshOutput(keepUnmatched: Boolean): Seq[Attribute] = Seq(
    AttributeReference("left_id", LongType, nullable = false)(),
    AttributeReference("right_id", LongType, nullable = keepUnmatched)(),
    AttributeReference("score", DoubleType, nullable = keepUnmatched)())
}

/** Physical range join: broadcast right (via the same
  * `BroadcastDistribution` + [[MatCache]] machinery as
  * [[SemanticTopKJoinExec]]), stream the left side through
  * [[VecScan.scanRdd]], emit every pair with cosine ≥ τ — plus, under
  * `keepUnmatched`, a null-extended row for each left row with no match
  * (left-outer semantics with zero extra passes: matched-ness is known the
  * moment the row's scan finishes). Zero shuffle;
  * output size is data-dependent (τ controls selectivity), never
  * materialized as a full pair matrix.
  */
case class SemanticRangeJoinExec(
    leftIdCol: String,
    leftVecCol: String,
    rightIdCol: String,
    rightVecCol: String,
    tau: Double,
    excludeSelf: Boolean,
    keepUnmatched: Boolean,
    output: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan)
  extends SparkPlan with BinaryExecNode {

  private def ordinalOf(child: SparkPlan, name: String): Int = {
    val i = child.output.indexWhere(a => conf.resolver(a.name, name))
    require(i >= 0, s"column $name not found in ${child.output.map(_.name).mkString(", ")}")
    i
  }

  private def elemType(child: SparkPlan, ord: Int): DataType =
    child.output(ord).dataType.asInstanceOf[ArrayType].elementType

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  override protected def doExecute(): RDD[InternalRow] = {
    val rowsBc = right.executeBroadcast[Array[InternalRow]]()
    val rIdOrd = ordinalOf(right, rightIdCol)
    val rVecOrd = ordinalOf(right, rightVecCol)
    val rIdType = right.output(rIdOrd).dataType
    val rElem = elemType(right, rVecOrd)
    val lIdOrd = ordinalOf(left, leftIdCol)
    val lVecOrd = ordinalOf(left, leftVecCol)
    val (nRight, dim) = MatCache.shape(rowsBc.value, rIdOrd, rVecOrd)
    VecScan.scanRdd(left.execute(), lIdOrd, left.output(lIdOrd).dataType,
      lVecOrd, elemType(left, lVecOrd), MatCache.estimatedRows(left), nRight, dim,
      () => MatCache.get(rowsBc.value, rIdOrd, rIdType, rVecOrd, rElem),
      VecScan.RangeSpec(tau, excludeSelf, onlyUpperPairs = false, keepUnmatched))
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SemanticRangeJoinExec =
    copy(left = newLeft, right = newRight)
}
