package graft.operators

import graft.functions.TopKBuffer
import graft.functions.VectorOps.asDouble
import org.apache.spark.{HashPartitioner, NarrowDependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import scala.collection.mutable
import scala.reflect.ClassTag

/** The exact similarity scan: one cosine kernel ([[scores]]) behind every
  * exact kNN, range and ε-graph scan over an in-memory right side — the
  * DataFrame kNN/range joins, the planned `SemanticTopKJoinExec` /
  * `SemanticRangeJoinExec`, the blocked join, the clustering self-scan, the
  * IVF centroid probe and the resident IVF scan (SURVEY §4.3: "small right:
  * broadcast right (id, vec) matrix, mapPartitions top-k per left row").
  *
  * The pair space exists only as the kernel's primitive loops: each left row
  * allocates nothing but its top-k buffer or its hits, and only ≤k (or
  * ≥τ-matching) rows are ever materialized. Scores are bit-identical to the
  * declarative path: same left-to-right `dot` summation, same
  * `dot / (na·nb)` op order, same [-1,1] clamp, same (score desc, id asc)
  * tie-break.
  *
  * Scale posture: the right side is collected once ([[collectMatIfFits]]:
  * one job that sizes and collects it together, [[collectIfFits]]) and
  * broadcast, bounded by [[Regime.MaxBroadcastBytes]]; callers fall back to the
  * shuffle/crossJoin plan (or IVF) above that. The left side streams and
  * is split by pair work ([[scanRdd]]): a scan worth more than one task's
  * share of multiply-adds runs on up to `defaultParallelism` tasks, its
  * left rows dealt across all of them by id hash whatever partitions they
  * come in (re-read per task when cached or checkpointed, else shuffled
  * once into the tasks), and a small scan stays in its left partitions.
  */
object VecScan {

  /** Scan-ready right side: ids, vectors and their norms, with no null id or
    * vector (a null never matches).
    */
  private[graft] final case class Mat(ids: Array[Long], vecs: Array[Array[Double]], norms: Array[Double]) {
    def size: Int = ids.length
    /** Longest vector; the per-pair cost of a scan against this side. */
    def dim: Int = vecs.foldLeft(0)((d, v) => math.max(d, v.length))
  }

  private[graft] object Mat {
    /** Rows in id order (stable for equal ids), norms computed once. The
      * order lets the upper-pair self-scan start each left row past its id.
      */
    def of(ids: Array[Long], vecs: Array[Array[Double]]): Mat = {
      val order = ids.indices.sortBy(ids(_)).toArray
      val sortedVecs = order.map(vecs(_))
      Mat(order.map(ids(_)), sortedVecs, sortedVecs.map(v => math.sqrt(dot(v, v))))
    }
  }

  @inline private[graft] def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Same clamp as VectorOps.cosine: least(greatest(d/(na*nb), -1), 1). */
  @inline private[graft] def cosine(d: Double, na: Double, nb: Double): Double =
    math.min(math.max(d / (na * nb), -1.0), 1.0)

  /** The exact scan kernel: `out(j) = cosine(dot(lv, m.vecs(j)), ln, m.norms(j))`
    * for every `j` in `[from, m.size)`. One pass over `lv` scores four right
    * rows, with four independent accumulators instead of one dependent chain
    * of adds; each accumulator sums its pair's products left to right, as
    * [[dot]] does, so every score is bit-identical to the scalar form. A block
    * holding a row shorter than `lv` (ragged) takes the scalar [[dot]].
    */
  private[graft] def scores(lv: Array[Double], ln: Double, m: Mat, from: Int,
      out: Array[Double]): Unit = {
    val n = lv.length
    val vecs = m.vecs
    val norms = m.norms
    val end = vecs.length
    var j = from
    while (j + 4 <= end) {
      val a = vecs(j); val b = vecs(j + 1); val c = vecs(j + 2); val d = vecs(j + 3)
      if (a.length >= n && b.length >= n && c.length >= n && d.length >= n) {
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        while (i < n) {
          val x = lv(i)
          s0 += x * a(i); s1 += x * b(i); s2 += x * c(i); s3 += x * d(i)
          i += 1
        }
        out(j) = cosine(s0, ln, norms(j))
        out(j + 1) = cosine(s1, ln, norms(j + 1))
        out(j + 2) = cosine(s2, ln, norms(j + 2))
        out(j + 3) = cosine(s3, ln, norms(j + 3))
      } else {
        out(j) = cosine(dot(lv, a), ln, norms(j))
        out(j + 1) = cosine(dot(lv, b), ln, norms(j + 1))
        out(j + 2) = cosine(dot(lv, c), ln, norms(j + 2))
        out(j + 3) = cosine(dot(lv, d), ln, norms(j + 3))
      }
      j += 4
    }
    while (j < end) { out(j) = cosine(dot(lv, vecs(j)), ln, norms(j)); j += 1 }
  }

  /** First row of `m` (in id order) with an id above `id`: where the i<j
    * self-scan of row `id` starts.
    */
  private[graft] def firstAbove(m: Mat, id: Long): Int = {
    var lo = 0
    var hi = m.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (m.ids(mid) <= id) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Top-k of one left row into `buf` (cleared first), scored with [[scores]]
    * into the `out` scratch (length ≥ `m.size`).
    */
  private[graft] def topK(lid: Long, lv: Array[Double], m: Mat, excludeSelf: Boolean,
      buf: TopKBuffer, out: Array[Double]): Unit = {
    buf.n = 0
    scores(lv, math.sqrt(dot(lv, lv)), m, 0, out)
    var j = 0
    while (j < m.size) {
      if (!(excludeSelf && m.ids(j) == lid)) buf.insert(out(j), m.ids(j))
      j += 1
    }
  }

  /** What a distributed scan emits per left row. */
  private[graft] sealed trait ScanSpec { def upper: Boolean = false }
  /** ≤k `(left_id, right_id, score, rank)` rows, rank 1-based best-first. */
  private[graft] final case class KnnSpec(k: Int, excludeSelf: Boolean) extends ScanSpec
  /** `(left_id, right_id, score)` rows with score ≥ τ; `onlyUpperPairs` keeps
    * left_id < right_id; `keepUnmatched` adds a null-extended row for a left
    * row without a match (a null vector never matches; a null left id gives
    * no row at all).
    */
  private[graft] final case class RangeSpec(tau: Double, excludeSelf: Boolean,
      onlyUpperPairs: Boolean, keepUnmatched: Boolean) extends ScanSpec {
    override def upper: Boolean = onlyUpperPairs
  }

  private[graft] val KnnSchema: StructType = StructType(Seq(
    StructField("left_id", LongType, nullable = false),
    StructField("right_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))

  private[graft] def rangeSchema(keepUnmatched: Boolean): StructType = StructType(Seq(
    StructField("left_id", LongType, nullable = false),
    StructField("right_id", LongType, nullable = keepUnmatched),
    StructField("score", DoubleType, nullable = keepUnmatched)))

  /** Multiply-adds one scan task is worth (~50-70 ms of kernel time at the
    * blocked kernel's ~1 ns per multiply-add): a scan is split only into
    * tasks of at least this much work, so a small scan stays in one task.
    */
  private[graft] val WorkPerTask: Long = 1L << 26

  /** How many tasks a scan's left rows are dealt across: the scan's pair
    * work (`estLeftRows × nRight`, halved for the i<j self-scan, times the
    * dimension) in [[WorkPerTask]] units, at least 1 and capped at
    * `parallelism`.
    */
  private[graft] def slicesFor(estLeftRows: Long, nRight: Int, dim: Int, upper: Boolean,
      parallelism: Int): Int = {
    val work = BigInt(math.max(estLeftRows, 0L)) * nRight * math.max(dim, 1) / (if (upper) 2 else 1)
    math.max(1, ((work + WorkPerTask - 1) / WorkPerTask).min(BigInt(math.max(parallelism, 1))).toInt)
  }

  /** Row-count estimate of a plan: the optimizer's row count, else its size
    * estimate over the per-row size estimate. Needs no job; used only to size
    * the split, so an estimate off by a small factor costs nothing.
    */
  private[graft] def estimatedRows(plan: LogicalPlan): Long = {
    val st = plan.stats
    val n = st.rowCount.getOrElse(st.sizeInBytes / EstimationUtils.getSizePerRow(plan.output))
    if (n > Long.MaxValue) Long.MaxValue else n.toLong
  }

  private val counters = new java.util.WeakHashMap[SparkContext, java.util.Map[String, LongAccumulator]]

  /** The context's accumulator named `name`, registered on first use. */
  private[graft] def counter(sc: SparkContext, name: String): LongAccumulator = counters.synchronized {
    counters.computeIfAbsent(sc, _ => new java.util.HashMap[String, LongAccumulator])
      .computeIfAbsent(name, n => sc.longAccumulator(n))
  }

  /** Pairs scored by the distributed scans of this context: every scan task
    * adds the pairs it scores, so a scan that runs twice counts twice.
    */
  def pairsScored(sc: SparkContext): LongAccumulator = counter(sc, "graft.vecscan.pairs_scored")

  /** Slice of a left row among `slices`: a hash of its id, so which rows a
    * slice holds does not depend on the order a read returns them in.
    */
  private[graft] def sliceOf(id: Long, slices: Int): Int =
    Math.floorMod(java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L), slices)

  /** True when re-reading a partition of `rdd` is a read, not a recomputation:
    * its one-to-one lineage reaches a cached or checkpointed RDD.
    */
  private[graft] def materialized(rdd: RDD[_]): Boolean =
    rdd.getStorageLevel != StorageLevel.NONE || rdd.isCheckpointed || (rdd.dependencies match {
      case Seq(d: OneToOneDependency[_]) => materialized(d.rdd)
      case _ => false
    })

  /** The distributed scan: left rows (id at `idOrd`, vector at `vecOrd`) to
    * the rows of `spec`, scored against the matrix `mat` returns on the
    * executor. Split by pair work ([[slicesFor]]): each left row goes to the
    * slice of its id ([[sliceOf]]) among all the scan's tasks, from whichever
    * left partition it comes, so a left side whose ids run in order per
    * partition (the i<j self-scan's work falls with the id) still spreads
    * evenly. A [[materialized]] left side is re-read by each slice
    * ([[SlicedRDD]], no shuffle); any other is shuffled once into the slices,
    * so its lineage is not recomputed per slice. A one-task scan keeps its
    * left partitions.
    */
  private[graft] def scanRdd(
      left: RDD[InternalRow], idOrd: Int, idType: DataType, vecOrd: Int, vecElem: DataType,
      estLeftRows: Long, nRight: Int, dim: Int, mat: () => Mat, spec: ScanSpec): RDD[InternalRow] = {
    val sc = left.sparkContext
    val slices = slicesFor(estLeftRows, nRight, dim, spec.upper, sc.defaultParallelism)
    val src =
      if (slices == 1) left
      else {
        // a null id yields no row, so its slice does not matter
        val sliceBy = (r: InternalRow) =>
          if (r.isNullAt(idOrd)) 0 else sliceOf(graft.plans.RowVec.getId(r, idOrd, idType), slices)
        if (materialized(left)) new SlicedRDD(left, slices, sliceBy)
        else new ShuffledRDD[Int, InternalRow, InternalRow](
          left.mapPartitions(_.map(r => (sliceBy(r), r.copy()))), new HashPartitioner(slices)).values
      }
    val pairs = pairsScored(sc)
    src.mapPartitions({ it =>
      val m = mat()
      val out = new Array[Double](m.size)
      val types = (spec match {
        case _: KnnSpec => KnnSchema
        case _ => rangeSchema(keepUnmatched = true)
      }).map(_.dataType).toArray
      val proj = UnsafeProjection.create(types)
      val row = new GenericInternalRow(types.length)
      def emit(lid: Any, rid: Any, s: Any): InternalRow = {
        row.update(0, lid); row.update(1, rid); row.update(2, s)
        proj(row)
      }
      spec match {
        case KnnSpec(k, excludeSelf) =>
          val buf = new TopKBuffer(k)
          it.flatMap { r =>
            if (r.isNullAt(idOrd) || r.isNullAt(vecOrd)) Iterator.empty
            else {
              val lid = graft.plans.RowVec.getId(r, idOrd, idType)
              topK(lid, graft.plans.RowVec.getVec(r, vecOrd, vecElem), m, excludeSelf, buf, out)
              pairs.add(m.size)
              (0 until buf.n).iterator.map { i =>
                row.update(3, i + 1)
                emit(lid, buf.ids(i), buf.scores(i))
              }
            }
          }
        case RangeSpec(tau, excludeSelf, upper, keepUnmatched) =>
          it.flatMap { r =>
            if (r.isNullAt(idOrd)) Iterator.empty
            else {
              val lid = graft.plans.RowVec.getId(r, idOrd, idType)
              val hits = mutable.ArrayBuffer.empty[InternalRow]
              if (!r.isNullAt(vecOrd)) {
                val lv = graft.plans.RowVec.getVec(r, vecOrd, vecElem)
                val from = if (upper) firstAbove(m, lid) else 0
                scores(lv, math.sqrt(dot(lv, lv)), m, from, out)
                pairs.add(m.size - from)
                var j = from
                while (j < m.size) {
                  if (out(j) >= tau && !(excludeSelf && m.ids(j) == lid))
                    hits += emit(lid, m.ids(j), out(j)).copy()
                  j += 1
                }
              }
              if (hits.isEmpty && keepUnmatched) Iterator.single(emit(lid, null, null))
              else hits.iterator
            }
          }
      }
    }, preservesPartitioning = false)
  }

  /** Scan over the left DataFrame's `(id, vec)` columns against `mat`. */
  private def scanDf(left: DataFrame, leftId: String, leftVec: String, mat: Mat,
      spec: ScanSpec, schema: StructType): DataFrame = {
    val spark = left.sparkSession
    val proj = left.select(col(leftId).cast("long"), asDouble(col(leftVec)))
    val bc = spark.sparkContext.broadcast(mat)
    val out = scanRdd(proj.queryExecution.toRdd, 0, LongType, 1, DoubleType,
      estimatedRows(proj.queryExecution.optimizedPlan), mat.size, mat.dim, () => bc.value, spec)
    ColumnBridge.fromInternalRows(spark, out, schema)
  }

  /** One partition's share of a bounded collect: its charged size, and its
    * rows when that size is within the partition's share (else null).
    */
  private final class Part[T](val size: Long, val rows: Array[T]) extends Serializable

  private def collectPart[T: ClassTag](it: Iterator[InternalRow], cap: Long,
      cost: InternalRow => Long, read: InternalRow => T): Part[T] = {
    val rows = mutable.ArrayBuilder.make[T]
    var size = 0L
    it.foreach { r =>
      size += cost(r)
      if (size <= cap) rows += read(r)
    }
    new Part(size, if (size <= cap) rows.result() else null)
  }

  /** Every row of `df`, read by `read`, if the rows' summed `cost` fits
    * `bound`, else None. One job sizes and collects them together: each
    * partition ships its rows when they fit its even share of the bound, so
    * the driver never holds more than the bound; partitions over their share
    * (a skewed input that still fits) are fetched by a second job. A plan
    * that folds to a LocalRelation is read on the driver, with no job.
    */
  private[graft] def collectIfFits[T: ClassTag](df: DataFrame, bound: Long)(
      cost: InternalRow => Long, read: InternalRow => T): Option[Array[T]] =
    df.queryExecution.optimizedPlan match {
      case local: LocalRelation => Option(collectPart(local.data.iterator, bound, cost, read).rows)
      case _ =>
        val rdd = df.queryExecution.toRdd
        val sc = rdd.sparkContext
        val cap = bound / math.max(rdd.getNumPartitions, 1)
        val parts = sc.runJob(rdd, (it: Iterator[InternalRow]) => collectPart(it, cap, cost, read))
        if (parts.iterator.map(_.size).sum > bound) None
        else {
          val missing = parts.indices.filter(parts(_).rows == null)
          val fetched = if (missing.isEmpty) Array.empty[Part[T]]
            else sc.runJob(rdd,
              (it: Iterator[InternalRow]) => collectPart(it, Long.MaxValue, cost, read), missing)
          Some((parts.filter(_.rows != null) ++ fetched).flatMap(_.rows))
        }
    }

  /** The right side as a [[Mat]] if its vectors fit `bound` bytes, else None
    * ([[collectIfFits]], each row charged 8 bytes per element).
    */
  private[graft] def collectMatIfFits(df: DataFrame, idCol: String, vecCol: String,
      bound: Long): Option[Mat] = {
    val rows = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull)
    collectIfFits(rows, bound)(r => 8L * r.getArray(1).numElements(),
        r => (r.getLong(0), r.getArray(1).toDoubleArray()))
      .map(all => Mat.of(all.map(_._1), all.map(_._2)))
  }

  /** [[collectMatIfFits]] under the session's [[Regime.MaxBroadcastBytes]]. */
  private[graft] def collectMatIfFits(df: DataFrame, idCol: String, vecCol: String): Option[Mat] =
    collectMatIfFits(df, idCol, vecCol, Regime.MaxBroadcastBytes(df.sparkSession))

  /** The whole right side as a [[Mat]], for sides bounded by construction. */
  private[graft] def collectMat(df: DataFrame, idCol: String, vecCol: String): Mat =
    collectMatIfFits(df, idCol, vecCol, Long.MaxValue).get

  /** kNN scan: `(left_id, right_id, score, rank)`, rank 1-based best-first,
    * ≤k rows per left row; a null left id or vector yields no row.
    */
  def knn(left: DataFrame, leftId: String, leftVec: String, right: Mat,
      k: Int, excludeSelf: Boolean): DataFrame =
    scanDf(left, leftId, leftVec, right, KnnSpec(k, excludeSelf), KnnSchema)

  /** Range scan: matching `(left_id, right_id, score)` pairs with score ≥ τ.
    * `onlyUpperPairs` emits i<j once (self-join edge lists for clustering);
    * `keepUnmatched` keeps a left row without a match (a null vector never
    * matches) with null right_id/score. A null left id yields no row.
    */
  def range(left: DataFrame, leftId: String, leftVec: String, right: Mat,
      tau: Double, excludeSelf: Boolean, onlyUpperPairs: Boolean = false,
      keepUnmatched: Boolean = false): DataFrame =
    scanDf(left, leftId, leftVec, right,
      RangeSpec(tau, excludeSelf, onlyUpperPairs, keepUnmatched), rangeSchema(keepUnmatched))
}

/** Deals the rows of every parent partition over `slices` child partitions
  * (row `r` to slice `slice(r)`, in `[0, slices)`): a one-partition input
  * then runs on `slices` tasks, and a many-partition one on `slices` tasks
  * of even shares, without a shuffle. Each slice reads the whole parent, so
  * this pays off only when the read is cheap (a cached or checkpointed
  * parent) and per-row work dwarfs it — a similarity scan. The slice must be
  * a function of the row, not of its position: two reads of a partition may
  * return its rows in different orders.
  */
private[graft] final class SlicedRDD[T: scala.reflect.ClassTag](parent: RDD[T], slices: Int,
    slice: T => Int)
  extends RDD[T](parent.sparkContext, Seq(new NarrowDependency[T](parent) {
    override def getParents(partitionId: Int): Seq[Int] = parent.partitions.indices
  })) {

  override protected def getPartitions: Array[Partition] = {
    val ps = parent.partitions
    Array.tabulate[Partition](slices)(SlicePartition(_, ps))
  }

  override def compute(split: Partition, context: TaskContext): Iterator[T] =
    split.asInstanceOf[SlicePartition].parents.iterator
      .flatMap(parent.iterator(_, context)).filter(slice(_) == split.index)

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    split.asInstanceOf[SlicePartition].parents.toSeq.flatMap(parent.preferredLocations).distinct
}

/** A slice of `parent`, with the parent's partitions carried along: they
  * are known on the driver only.
  */
private final case class SlicePartition(index: Int, parents: Array[Partition]) extends Partition
