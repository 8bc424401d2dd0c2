package graft.plans

import graft.operators.VecScan
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.BroadcastMode
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._

/** Shared by-name column binding + validation for the semantic vector join
  * family ([[SemanticTopKJoin]], [[SemanticRangeJoin]]): each node names the
  * id/vec columns of each side and resolves them against that child's own
  * output independently (see [[SemanticTopKJoin]]'s scaladoc for why
  * by-name, not by-Expression). All members output `left_id` first, which
  * [[PushFilterThroughSemanticVecJoin]] relies on.
  */
trait SemanticVecJoin extends BinaryNode {
  def leftIdCol: String
  def leftVecCol: String
  def rightIdCol: String
  def rightVecCol: String

  protected def find(child: LogicalPlan, name: String): Option[Attribute] =
    child.output.find(a => conf.resolver(a.name, name))

  /** The child columns this node consumes — lets ColumnPruning strip every
    * other column below (the TVF/API constructors also pre-project, so scans
    * stay 2-column even if a pruning pattern misses a custom node).
    */
  override def references: AttributeSet = AttributeSet(
    Seq(find(left, leftIdCol), find(left, leftVecCol),
      find(right, rightIdCol), find(right, rightVecCol)).flatten)

  private def idOk(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType => true
    case _ => false
  }
  private def vecOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override lazy val resolved: Boolean = childrenResolved &&
    find(left, leftIdCol).exists(a => idOk(a.dataType)) &&
    find(left, leftVecCol).exists(a => vecOk(a.dataType)) &&
    find(right, rightIdCol).exists(a => idOk(a.dataType)) &&
    find(right, rightVecCol).exists(a => vecOk(a.dataType))
}

/** Logical plan node for the semantic top-k (cosine kNN) join — the engine's
  * core operator lifted to a first-class Catalyst citizen (SURVEY §4.2's
  * optional SQL-surface item). The node is declarative: it names the id/vec
  * columns of each side and `k`; HOW it runs (broadcast side, kernel, rank
  * materialization) is decided at planning by [[GraftStrategy]], exactly like
  * Spark's own Join → {Broadcast,SortMerge,Hash}JoinExec split.
  *
  * Column bindings are by NAME (resolved against each child's own output
  * independently), not by `Expression`: a semantic self-join reads the same
  * table on both sides, where attribute-based bindings would collide on
  * duplicate expression ids — the exact hazard `DeduplicateRelations` exists
  * to patch for Spark's built-in binary nodes, which does not know about this
  * one. By-name binding per side makes the ambiguity unrepresentable.
  *
  * Output is `(left_id long, right_id long, score double, rank int)` — the
  * same contract as [[graft.operators.SemanticJoin.knnJoinVec]], rank 1-based
  * best-first, ties broken (score desc, right_id asc), scores bit-identical
  * to the DataFrame path (same double op order + clamp as
  * [[graft.operators.VecScan]]).
  *
  * The output attributes are a constructor field (with fresh ids by default)
  * so that optimizer copies — `withNewChildrenInternal`, rule rewrites —
  * preserve expression ids; regenerating them per copy would orphan every
  * reference above this node.
  */
case class SemanticTopKJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftIdCol: String,
    leftVecCol: String,
    rightIdCol: String,
    rightVecCol: String,
    k: Int,
    excludeSelf: Boolean,
    output: Seq[Attribute] = SemanticTopKJoin.freshOutput())
  extends SemanticVecJoin {

  require(k >= 1, s"k must be >= 1, got $k")

  // saturating multiply: a huge left estimate times k must not wrap negative
  // and mislead limit-elimination rules that trust maxRows
  override def maxRows: Option[Long] =
    left.maxRows.map(m => if (m > Long.MaxValue / k) Long.MaxValue else m * k)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SemanticTopKJoin =
    copy(left = newLeft, right = newRight)
}

object SemanticTopKJoin {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("left_id", LongType, nullable = false)(),
    AttributeReference("right_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)(),
    AttributeReference("rank", IntegerType, nullable = false)())
}

/** Per-executor memoized unpack of a broadcast `Array[InternalRow]` into the
  * engine's column-major [[VecScan.Mat]] (ids / vectors / precomputed norms).
  * `BroadcastExchangeExec` only ships `HashedRelation` or
  * `Array[InternalRow]` payloads (a custom `BroadcastMode` result is rejected
  * at the exchange), so the rows travel in identity form and the scan-ready
  * matrix is built ONCE per executor JVM here — keyed weakly on the broadcast
  * array instance, so the cache entry dies with the broadcast block instead
  * of pinning a second copy for the life of the executor.
  */
private[plans] object MatCache {
  private val cache = new java.util.WeakHashMap[AnyRef, VecScan.Mat]

  // One lock for the whole cache, not per broadcast-array key: WeakHashMap
  // mutates internally even on get() (stale-entry expunge), so two tasks
  // unpacking DIFFERENT broadcasts under per-key locks would still race the
  // shared table (lost entries / corrupted resize / a spinning reader).
  // Coarse locking is cheap here — a build happens once per broadcast per
  // executor and a hit is a hash probe.
  def get(rows: Array[InternalRow], idOrd: Int, idType: DataType,
      vecOrd: Int, vecElemType: DataType): VecScan.Mat = cache.synchronized {
    val hit = cache.get(rows)
    if (hit != null) hit
    else {
      val live = rows.filter(r => !r.isNullAt(idOrd) && !r.isNullAt(vecOrd))
      val mat = VecScan.Mat.of(live.map(RowVec.getId(_, idOrd, idType)),
        live.map(RowVec.getVec(_, vecOrd, vecElemType)))
      cache.put(rows, mat)
      mat
    }
  }

  /** `(rows, longest vector)` of the side [[get]] builds, read off the
    * broadcast rows: sizes the scan's split without a driver-side matrix.
    */
  def shape(rows: Array[InternalRow], idOrd: Int, vecOrd: Int): (Int, Int) = {
    val live = rows.filter(r => !r.isNullAt(idOrd) && !r.isNullAt(vecOrd))
    (live.length, live.foldLeft(0)((d, r) => math.max(d, r.getArray(vecOrd).numElements())))
  }

  /** Row estimate of a physical child from its logical plan's statistics
    * (unknown: assume a large side), for [[VecScan.scanRdd]]'s split.
    */
  def estimatedRows(plan: SparkPlan): Long =
    plan.logicalLink.map(VecScan.estimatedRows).getOrElse(Long.MaxValue)
}

/** Shared InternalRow → primitive extraction for the planned operator. */
private[graft] object RowVec {
  def getId(r: InternalRow, ord: Int, dt: DataType): Long = dt match {
    case LongType => r.getLong(ord)
    case IntegerType => r.getInt(ord).toLong
    case ShortType => r.getShort(ord).toLong
    case ByteType => r.getByte(ord).toLong
    case other => throw new IllegalStateException(s"unsupported id type $other")
  }

  def getVec(r: InternalRow, ord: Int, elem: DataType): Array[Double] = {
    val a = r.getArray(ord)
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    elem match {
      case DoubleType => while (i < n) { out(i) = a.getDouble(i); i += 1 }
      case FloatType => while (i < n) { out(i) = a.getFloat(i).toDouble; i += 1 }
      case other => throw new IllegalStateException(s"unsupported vector element type $other")
    }
    out
  }
}

/** Optimizer rule: push a deterministic predicate on `left_id` below a
  * semantic vector join, onto the left child's id column. Sound for every
  * [[SemanticVecJoin]] member because each left row's output (its top-k, or
  * its τ-matches, or its unmatched left-outer row) depends only on that row
  * and the right table — dropping left rows first cannot change any
  * surviving row's neighbors, ranks, or match set (unlike a filter on
  * `right_id`/`score`/`rank`, which this rule must and does leave above).
  * At scale this turns "join then keep 1% of queries" into "read 1% of
  * queries" — the predicate lands in the parquet scan's PushedFilters.
  */
object PushFilterThroughSemanticVecJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: SemanticVecJoin) =>
      val leftIdOut = j.output.head
      j.left.output.find(a => conf.resolver(a.name, j.leftIdCol)) match {
        case Some(childId) =>
          val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
            p.deterministic && p.references.subsetOf(AttributeSet(leftIdOut)))
          if (push.isEmpty) f
          else {
            val replacement: Expression =
              if (childId.dataType == LongType) childId else Cast(childId, LongType)
            val pushed = push.map(_.transform {
              case a: Attribute if a.exprId == leftIdOut.exprId => replacement
            }).reduce(And)
            val newJoin = j.withNewChildren(Seq(Filter(pushed, j.left), j.right))
            keep.reduceOption(And).map(Filter(_, newJoin)).getOrElse(newJoin)
          }
        case None => f
      }
  }
}
