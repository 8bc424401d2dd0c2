package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst kernel expressions for the hot path.
  *
  * [[VecDot]] replaces the `aggregate(zip_with(...))` higher-order form: same
  * left-to-right double accumulation (bit-identical results), but whole-stage
  * codegen emits a tight primitive loop with zero allocation per row —
  * measured ~20x faster on the O(n*m) similarity-join inner loop.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs two array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** Mutable bounded top-k buffer: insertion-sorted parallel arrays, ordering
  * (score desc, id asc). O(k) insert, zero boxing.
  */
final class TopKBuffer(val k: Int) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  @inline private def precedes(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def insert(s: Double, id: Long): Unit = {
    if (n == k && !precedes(s, id, scores(n - 1), ids(n - 1))) return
    var i = 0
    while (i < n && precedes(scores(i), ids(i), s, id)) i += 1
    if (i >= k) return
    var j = math.min(n, k - 1)
    while (j > i) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(i) = s; ids(i) = id
    if (n < k) n += 1
  }
}

/** Bounded top-k as a native TypedImperativeAggregate: the JVM buffer lives
  * across rows (no per-row encoder round-trip, unlike a Scala `Aggregator`
  * udaf), and Spark still runs it with partial (map-side) aggregation — only
  * <=k rows per group ever shuffle. This is the engine's kNN-join reducer
  * (replaces FAISS search, reference: src/linktransformer/infer.py:144-151,
  * with deterministic (score desc, id asc) tie-breaking per SURVEY §4.3).
  *
  * Output: array<struct<score double, id bigint>> sorted best-first.
  */
case class TopKAggregate(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k >= 1, "k must be >= 1")

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)
  override def prettyName: String = "graft_top_k"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null) {
      buf.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.n) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val out = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) { out(i) = InternalRow(buf.scores(i), buf.ids(i)); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * buf.n)
    bb.putInt(buf.k).putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.scores(i)).putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val s = bb.getDouble(); val id = bb.getLong()
      buf.scores(i) = s; buf.ids(i) = id
      i += 1
    }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAggregate =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

/** [[TopKBuffer]] with one extra double carried per kept entry — same
  * (score desc, id asc) order contract, so a selection made through this
  * buffer is entry-for-entry identical to one made through [[TopKBuffer]]
  * on the same (score, id) stream.
  */
final class TopKPayloadBuffer(val k: Int) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)
  val payloads: Array[Double] = new Array[Double](k)

  @inline private def precedes(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def insert(s: Double, id: Long, p: Double): Unit = {
    if (n == k && !precedes(s, id, scores(n - 1), ids(n - 1))) return
    var i = 0
    while (i < n && precedes(scores(i), ids(i), s, id)) i += 1
    if (i >= k) return
    var j = math.min(n, k - 1)
    while (j > i) {
      scores(j) = scores(j - 1); ids(j) = ids(j - 1); payloads(j) = payloads(j - 1)
      j -= 1
    }
    scores(i) = s; ids(i) = id; payloads(i) = p
    if (n < k) n += 1
  }
}

/** Growable parallel (key bytes, value) buffer for [[OrderedSumAggregate]]. */
final class OrderedSumBuffer {
  var n: Int = 0
  var keys: Array[Array[Byte]] = new Array[Array[Byte]](16)
  var vals: Array[Double] = new Array[Double](16)

  def add(k: Array[Byte], v: Double): Unit = {
    if (n == keys.length) {
      keys = java.util.Arrays.copyOf(keys, n * 2)
      vals = java.util.Arrays.copyOf(vals, n * 2)
    }
    keys(n) = k; vals(n) = v; n += 1
  }
}

/** Key-ordered double sum as a native TypedImperativeAggregate: accumulates
  * `(key, value)` pairs in primitive-ish parallel buffers and, at eval time,
  * sums the values in ascending UNSIGNED-LEXICOGRAPHIC key-byte order
  * (= `UTF8String` ordering = DuckDB binary collation), ties broken by value
  * — exactly the accumulation order of
  * `aggregate(sort_array(collect_list(struct(key, value))), 0.0, _+_)` and of
  * DuckDB's `list_reduce(list(value ORDER BY key), ...)` over NON-NULL pairs,
  * so scores stay bit-reproducible across engines and partitionings (null
  * keys/values are dropped — see [[createAggregationBuffer]]'s note).
  *
  * Exists because the three-layer form it replaces ran the fold INTERPRETED
  * (HOF lambdas never enter codegen) and allocated a struct per input row
  * inside the partial aggregate — measured r5 as the dominant CPU of the
  * bm25 scoring stage (~2-3 s per query at sf0.1). Same partial-aggregation
  * contract as [[TopKAggregate]]: buffers merge map-side, only per-group
  * buffers cross the shuffle.
  */
case class OrderedSumAggregate(
    keyExpr: Expression,
    valExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[OrderedSumBuffer] {

  override def children: Seq[Expression] = Seq(keyExpr, valExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_ordered_sum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (keyExpr.dataType, valExpr.dataType) match {
      case (StringType, DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (kt, vt) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_ordered_sum needs (string key, double value), got ($kt, $vt)")
    }

  // null key or value: the pair carries no orderable contribution and is
  // dropped, like sum() drops nulls (the BM25/perplexity call sites never
  // produce one — terms come from explode, contribs from arithmetic over
  // non-null columns)
  override def createAggregationBuffer(): OrderedSumBuffer = new OrderedSumBuffer

  override def update(buf: OrderedSumBuffer, input: InternalRow): OrderedSumBuffer = {
    val k = keyExpr.eval(input)
    val v = valExpr.eval(input)
    if (k != null && v != null) {
      // copy: UTF8String bytes may alias a reused row buffer
      buf.add(k.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes.clone(),
        v.asInstanceOf[Double])
    }
    buf
  }

  override def merge(buf: OrderedSumBuffer, other: OrderedSumBuffer): OrderedSumBuffer = {
    var i = 0
    while (i < other.n) { buf.add(other.keys(i), other.vals(i)); i += 1 }
    buf
  }

  override def eval(buf: OrderedSumBuffer): Any = {
    val boxed: Array[Integer] = Array.tabulate(buf.n)(Integer.valueOf)
    val ord = new java.util.Comparator[Integer] {
      override def compare(ai: Integer, bi: Integer): Int = {
        val (ka, kb) = (buf.keys(ai), buf.keys(bi))
        val lim = math.min(ka.length, kb.length)
        var i = 0
        while (i < lim) {
          val c = java.lang.Integer.compare(ka(i) & 0xff, kb(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        val c = java.lang.Integer.compare(ka.length, kb.length)
        if (c != 0) c else java.lang.Double.compare(buf.vals(ai), buf.vals(bi))
      }
    }
    java.util.Arrays.sort(boxed, ord)
    var s = 0.0
    var i = 0
    while (i < boxed.length) { s += buf.vals(boxed(i)); i += 1 }
    s
  }

  override def serialize(buf: OrderedSumBuffer): Array[Byte] =
    MultiOrderedSumAggregate.ser(buf)
  override def deserialize(bytes: Array[Byte]): OrderedSumBuffer =
    MultiOrderedSumAggregate.de(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): OrderedSumAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OrderedSumAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OrderedSumAggregate =
    copy(keyExpr = newChildren(0), valExpr = newChildren(1))
}

/** Growable parallel (vocab index, value) buffer for
  * [[MultiOrderedSumAggregate]] — the interned form of [[OrderedSumBuffer]]:
  * keys are small ints into the operator's sorted union vocabulary instead
  * of cloned byte arrays.
  */
final class IndexedSumBuffer {
  var n: Int = 0
  var idxs: Array[Int] = new Array[Int](16)
  var vals: Array[Double] = new Array[Double](16)

  def add(i: Int, v: Double): Unit = {
    if (n == idxs.length) {
      idxs = java.util.Arrays.copyOf(idxs, n * 2)
      vals = java.util.Arrays.copyOf(vals, n * 2)
    }
    idxs(n) = i; vals(n) = v; n += 1
  }
}

/** [[OrderedSumAggregate]] over a PRE-RANKED integer key: callers that can
  * rank their keys in key-byte order once, in-plan (BM25's query vocabulary
  * — bounded by the query side's contract), fold over `(int rank, value)`
  * pairs instead of cloning the key bytes into the buffer on every input
  * row. Ascending rank order IS ascending key-byte order by the ranking's
  * construction, and ties break by value like the byte-keyed fold, so the
  * result is bit-identical — with no per-row allocation and 12-byte/pair
  * serialized buffers (r10: the byte clones were the dominant allocation of
  * the joined BM25 scoring stage; `q_stress_bm25`'s intrinsic-GC census).
  */
case class IntOrderedSumAggregate(
    rankExpr: Expression,
    valExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[IndexedSumBuffer] {

  override def children: Seq[Expression] = Seq(rankExpr, valExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_int_ordered_sum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (rankExpr.dataType, valExpr.dataType) match {
      case (IntegerType, DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (kt, vt) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_int_ordered_sum needs (int rank, double value), got ($kt, $vt)")
    }

  override def createAggregationBuffer(): IndexedSumBuffer = new IndexedSumBuffer

  override def update(buf: IndexedSumBuffer, input: InternalRow): IndexedSumBuffer = {
    val r = rankExpr.eval(input)
    val v = valExpr.eval(input)
    if (r != null && v != null) buf.add(r.asInstanceOf[Int], v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: IndexedSumBuffer, other: IndexedSumBuffer): IndexedSumBuffer = {
    var i = 0
    while (i < other.n) { buf.add(other.idxs(i), other.vals(i)); i += 1 }
    buf
  }

  override def eval(buf: IndexedSumBuffer): Any = {
    val boxed: Array[Integer] = Array.tabulate(buf.n)(Integer.valueOf)
    val ord = new java.util.Comparator[Integer] {
      override def compare(ai: Integer, bi: Integer): Int = {
        val c = java.lang.Integer.compare(buf.idxs(ai), buf.idxs(bi))
        if (c != 0) c else java.lang.Double.compare(buf.vals(ai), buf.vals(bi))
      }
    }
    java.util.Arrays.sort(boxed, ord)
    var s = 0.0
    var i = 0
    while (i < boxed.length) { s += buf.vals(boxed(i)); i += 1 }
    s
  }

  override def serialize(buf: IndexedSumBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 12 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putInt(buf.idxs(i)).putDouble(buf.vals(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): IndexedSumBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new IndexedSumBuffer
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.add(bb.getInt(), bb.getDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): IntOrderedSumAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): IntOrderedSumAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): IntOrderedSumAggregate =
    copy(rankExpr = newChildren(0), valExpr = newChildren(1))
}

/** [[OrderedSumAggregate]] generalized to MANY key subsets at once: one
  * buffer of `(key, value)` pairs per group, and at eval time every
  * constructor-supplied `(setId, keySet)` gets its own fold — the sum of the
  * group's values whose keys fall in that set, accumulated in ascending
  * unsigned-lexicographic key order (the same order, and therefore the same
  * IEEE result, as running [[OrderedSumAggregate]] on the joined subset).
  * Returns `array<struct<set_id, score>>`, sets with no matching key
  * omitted — exactly the pairs an inner join with the set table would have
  * produced.
  *
  * Exists for the batch-scoring regime where the sets are small and
  * driver-known (BM25 search: query term sets): the join form fans every
  * matching `(key, value)` row out once PER SET before the per-(set, group)
  * aggregate, so the widest shuffle carries Σ|q∩d| rows; this form shuffles
  * each group's pairs ONCE and replays them against all sets at eval — same
  * doubles, |sets|x fewer shuffled rows (measured 10x at the bench's
  * 10-query BM25 leg).
  */
case class MultiOrderedSumAggregate(
    keyExpr: Expression,
    valExpr: Expression,
    keySets: Seq[(Long, Seq[String])],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[IndexedSumBuffer] {

  override def children: Seq[Expression] = Seq(keyExpr, valExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("set_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_multi_ordered_sum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (keyExpr.dataType, valExpr.dataType) match {
      case (StringType, DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (kt, vt) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_multi_ordered_sum needs (string key, double value), got ($kt, $vt)")
    }

  // The constructor knows every key any set can match, so keys are INTERNED
  // once per operator instance: the union vocabulary is deduped and sorted
  // in the fold's unsigned-lexicographic byte order, making vocab-INDEX
  // order identical to key-byte order — an (idx, value) sort reproduces the
  // former (key bytes, value) sort entry-for-entry, and the fold stays
  // bit-identical. Buffers then hold primitive ints instead of a cloned
  // byte array per input row (measured r10: the per-row clone + byte-wise
  // eval merges were the dominant cost of the serving-regime BM25 fold —
  // ~116k matched postings per 10-query batch at sf0.1), rows whose key no
  // set contains are dropped at UPDATE (they could never contribute to any
  // fold — same results as the former eval-time skip), and per-set
  // membership is precomputed per vocab index.
  @transient private lazy val vocab: Array[Array[Byte]] = {
    val set = new java.util.TreeSet[Array[Byte]](MultiOrderedSumAggregate.ByteOrder)
    keySets.foreach(_._2.foreach(k => set.add(k.getBytes("UTF-8"))))
    set.toArray(Array.empty[Array[Byte]])
  }
  @transient private lazy val vocabIndex
      : java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer] = {
    val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer](
      vocab.length * 2)
    var i = 0
    while (i < vocab.length) {
      m.put(org.apache.spark.unsafe.types.UTF8String.fromBytes(vocab(i)), Integer.valueOf(i))
      i += 1
    }
    m
  }
  // vocab index -> ordinals (positions in keySets order) of the sets
  // containing that key
  @transient private lazy val setsOfIdx: Array[Array[Int]] = {
    val builders = Array.fill(vocab.length)(new scala.collection.mutable.ArrayBuffer[Int](2))
    var q = 0
    while (q < keySets.length) {
      keySets(q)._2.distinct.foreach { k =>
        val idx = java.util.Arrays.binarySearch(
          vocab.asInstanceOf[Array[AnyRef]], k.getBytes("UTF-8"),
          MultiOrderedSumAggregate.ByteOrder.asInstanceOf[java.util.Comparator[AnyRef]])
        builders(idx) += q
      }
      q += 1
    }
    builders.map(_.toArray)
  }

  override def createAggregationBuffer(): IndexedSumBuffer = new IndexedSumBuffer

  override def update(buf: IndexedSumBuffer, input: InternalRow): IndexedSumBuffer = {
    val k = keyExpr.eval(input)
    val v = valExpr.eval(input)
    if (k != null && v != null) {
      // content-hash lookup, no copy: UTF8String equals/hashCode are
      // byte-wise, and a miss means no set can use the key
      val idx = vocabIndex.get(k.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      if (idx != null) buf.add(idx.intValue(), v.asInstanceOf[Double])
    }
    buf
  }

  override def merge(buf: IndexedSumBuffer, other: IndexedSumBuffer): IndexedSumBuffer = {
    var i = 0
    while (i < other.n) { buf.add(other.idxs(i), other.vals(i)); i += 1 }
    buf
  }

  override def eval(buf: IndexedSumBuffer): Any = {
    // one sort of the group's pairs by (vocab idx, value) — identical order
    // to the former (key bytes, value) comparator — then a single pass
    // accumulating into each containing set (same per-set visit order as
    // the former per-set two-pointer merge, so every fold is bit-identical)
    val boxed: Array[Integer] = Array.tabulate(buf.n)(Integer.valueOf)
    val ord = new java.util.Comparator[Integer] {
      override def compare(ai: Integer, bi: Integer): Int = {
        val c = java.lang.Integer.compare(buf.idxs(ai), buf.idxs(bi))
        if (c != 0) c else java.lang.Double.compare(buf.vals(ai), buf.vals(bi))
      }
    }
    java.util.Arrays.sort(boxed, ord)
    val sums = new Array[Double](keySets.length)
    val hit = new Array[Boolean](keySets.length)
    var i = 0
    while (i < buf.n) {
      val p = boxed(i)
      val sets = setsOfIdx(buf.idxs(p))
      var q = 0
      while (q < sets.length) {
        sums(sets(q)) += buf.vals(p); hit(sets(q)) = true
        q += 1
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](keySets.length)
    var q = 0
    while (q < keySets.length) {
      if (hit(q)) out += InternalRow(keySets(q)._1, sums(q))
      q += 1
    }
    new GenericArrayData(out.toArray[InternalRow])
  }

  override def serialize(buf: IndexedSumBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 12 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putInt(buf.idxs(i)).putDouble(buf.vals(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): IndexedSumBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new IndexedSumBuffer
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.add(bb.getInt(), bb.getDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MultiOrderedSumAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MultiOrderedSumAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MultiOrderedSumAggregate =
    copy(keyExpr = newChildren(0), valExpr = newChildren(1))
}

object MultiOrderedSumAggregate {
  /** Ascending unsigned-lexicographic byte order (= UTF8String order). */
  val ByteOrder: java.util.Comparator[Array[Byte]] = new java.util.Comparator[Array[Byte]] {
    override def compare(ka: Array[Byte], kb: Array[Byte]): Int = {
      val lim = math.min(ka.length, kb.length)
      var i = 0
      while (i < lim) {
        val c = java.lang.Integer.compare(ka(i) & 0xff, kb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(ka.length, kb.length)
    }
  }

  private[functions] def ser(buf: OrderedSumBuffer): Array[Byte] = {
    var bytes = 4
    var i = 0
    while (i < buf.n) { bytes += 4 + buf.keys(i).length + 8; i += 1 }
    val bb = java.nio.ByteBuffer.allocate(bytes)
    bb.putInt(buf.n)
    i = 0
    while (i < buf.n) {
      bb.putInt(buf.keys(i).length).put(buf.keys(i)).putDouble(buf.vals(i))
      i += 1
    }
    bb.array()
  }

  private[functions] def de(bytes: Array[Byte]): OrderedSumBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new OrderedSumBuffer
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val k = new Array[Byte](bb.getInt())
      bb.get(k)
      buf.add(k, bb.getDouble())
      i += 1
    }
    buf
  }
}

object VecExpressions {
  /** Codegen'd dot product over two array<double> columns. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Native bounded top-k aggregate column: array<struct<score,id>> best-first. */
  def topK(k: Int, score: Column, id: Column): Column =
    ColumnBridge.column(TopKAggregate(
      ColumnBridge.expression(score), ColumnBridge.expression(id), k).toAggregateExpression())

  /** Key-ordered double-sum aggregate column (bit-reproducible fold). */
  def orderedSum(key: Column, value: Column): Column =
    ColumnBridge.column(OrderedSumAggregate(
      ColumnBridge.expression(key), ColumnBridge.expression(value)).toAggregateExpression())

  /** [[orderedSum]] over an int rank pre-assigned in key-byte order — the
    * zero-allocation fold for bounded, rankable key domains.
    */
  def intOrderedSum(rank: Column, value: Column): Column =
    ColumnBridge.column(IntOrderedSumAggregate(
      ColumnBridge.expression(rank), ColumnBridge.expression(value)).toAggregateExpression())

  /** Many-subset ordered-sum aggregate column: one bit-reproducible fold per
    * `(set_id, keys)` entry, returned as `array<struct<set_id, score>>`.
    */
  def multiOrderedSum(key: Column, value: Column,
      keySets: Seq[(Long, Seq[String])]): Column =
    ColumnBridge.column(MultiOrderedSumAggregate(
      ColumnBridge.expression(key), ColumnBridge.expression(value),
      keySets).toAggregateExpression())
}
