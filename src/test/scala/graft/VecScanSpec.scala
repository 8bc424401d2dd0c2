package graft

import graft.embed.HashEmbedder
import graft.functions.TopKBuffer
import graft.operators.{Clustering, Regime, SemanticJoin, SlicedRDD, VecScan}
import graft.plans.GraftPlans
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The exact scan kernel and the scans built on it: bit-identity with the
  * scalar cosine, one null rule on every join path, results independent of
  * the input's partitioning, the pair-work split, and one evaluation of the
  * scan per operator.
  */
class VecScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  // --- the kernel ------------------------------------------------------------

  test("kernel: every score == the scalar cosine(dot) across dims, ragged rows, ties and starts") {
    val rnd = new scala.util.Random(7)
    for (dim <- Seq(1, 3, 4, 5, 64, 67); nRight <- Seq(1, 2, 3, 5, 7, 13, 30)) {
      val base = Array.fill(3)(Array.fill(dim)(rnd.nextGaussian()))
      // exact ties (repeated vectors) and ragged rows (shorter and longer
      // than the left vector)
      val vecs = Array.tabulate(nRight) { j =>
        j % 5 match {
          case 0 => base(j % 3)
          case 1 => Array.fill(math.max(dim - 1, 1))(rnd.nextGaussian())
          case 2 => Array.fill(dim + 2)(rnd.nextGaussian())
          case 3 => base((j + 1) % 3)
          case _ => Array.fill(dim)(rnd.nextGaussian())
        }
      }
      val m = VecScan.Mat.of(Array.tabulate(nRight)(j => (nRight - j).toLong), vecs)
      val out = new Array[Double](nRight)
      for (lv <- Seq(base(0), Array.fill(dim)(rnd.nextGaussian()), Array.fill(dim + 1)(rnd.nextGaussian()));
           from <- Seq(0, nRight / 2)) {
        val ln = math.sqrt(VecScan.dot(lv, lv))
        java.util.Arrays.fill(out, Double.NaN)
        VecScan.scores(lv, ln, m, from, out)
        (from until nRight).foreach { j =>
          val want = VecScan.cosine(VecScan.dot(lv, m.vecs(j)), ln, m.norms(j))
          assert(bits(out(j)) == bits(want), s"dim $dim, nRight $nRight, row $j from $from")
        }
        // top-k order: (score desc, id asc) over the scalar scores
        val buf = new TopKBuffer(4)
        VecScan.topK(-1L, lv, m, excludeSelf = false, buf, out)
        val want = m.ids.indices
          .map(j => (VecScan.cosine(VecScan.dot(lv, m.vecs(j)), ln, m.norms(j)), m.ids(j)))
          .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(4)
        assert((0 until buf.n).map(r => (bits(buf.scores(r)), buf.ids(r))) ==
          want.map(w => (bits(w._1), w._2)), s"dim $dim, nRight $nRight")
      }
    }
  }

  test("kernel: a zero vector scores the scalar form's NaN, bit for bit") {
    val m = VecScan.Mat.of(Array(1L, 2L, 3L, 4L, 5L),
      Array(Array(1.0, 2.0), new Array[Double](2), Array(0.5, 0.5), Array(2.0, 1.0), Array(3.0, 0.0)))
    for (lv <- Seq(Array(1.0, 1.0), new Array[Double](2))) {
      val ln = math.sqrt(VecScan.dot(lv, lv))
      val out = new Array[Double](m.size)
      VecScan.scores(lv, ln, m, 0, out)
      m.ids.indices.foreach { j =>
        assert(bits(out(j)) == bits(VecScan.cosine(VecScan.dot(lv, m.vecs(j)), ln, m.norms(j))))
      }
      assert(out.exists(_.isNaN))
    }
  }

  test("Mat.of: id order, stable for equal ids; the upper-pair start skips ids <= own") {
    val m = VecScan.Mat.of(Array(5L, 2L, 5L, 9L), Array(Array(1.0), Array(2.0), Array(3.0), Array(4.0)))
    assert(m.ids.toSeq == Seq(2L, 5L, 5L, 9L))
    assert(m.vecs.map(_.head).toSeq == Seq(2.0, 1.0, 3.0, 4.0))
    assert(Seq(1L, 2L, 5L, 9L).map(VecScan.firstAbove(m, _)) == Seq(0, 1, 3, 4))
  }

  // --- one null rule on every path -------------------------------------------

  private val lSchema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), lSchema)

  private def rowsOf(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("null ids and vectors never match; keepUnmatched keeps a null-vector left row, on all three paths") {
    val l = frame(Seq(Row(1L, Seq(1.0, 0.0)), Row(2L, null), Row(null, Seq(0.0, 1.0))))
    val r = frame(Seq(Row(10L, Seq(1.0, 0.0)), Row(11L, null), Row(12L, Seq(0.0, 1.0)),
      Row(null, Seq(1.0, 0.0))))
    def forced[T](shuffle: Boolean)(f: => T): T =
      if (!shuffle) f else Regime.forcing(spark, Regime.MaxBroadcastBytes, 1L)(f)
    val knnWant = Set(Seq[Any](1L, 10L, 1.0, 1), Seq[Any](1L, 12L, 0.0, 2))
    // a null left id has no identity to keep: no row on any path
    val outerWant = Set(Seq[Any](1L, 10L, 1.0), Seq[Any](2L, null, null))
    for (shuffle <- Seq(false, true)) {
      val tag = if (shuffle) "shuffle" else "broadcast"
      assert(forced(shuffle)(rowsOf(SemanticJoin.knnJoinVec(l, "id", "vec", r, "id", "vec", k = 3)
        .select("left_id", "right_id", "score", "rank"))) == knnWant, tag)
      assert(forced(shuffle)(rowsOf(SemanticJoin.rangeJoinVec(l, "id", "vec", r, "id", "vec", tau = 0.5)
        .select("left_id", "right_id", "score"))) == outerWant, tag)
      assert(forced(shuffle)(rowsOf(SemanticJoin.rangeJoinVec(l, "id", "vec", r, "id", "vec",
        tau = 0.5, keepUnmatched = false).select("left_id", "right_id", "score"))) ==
        Set(Seq[Any](1L, 10L, 1.0)), tag)
    }
    assert(rowsOf(GraftPlans.knnJoin(l, "id", "vec", r, "id", "vec", k = 3)
      .select("left_id", "right_id", "score", "rank")) == knnWant, "planned")
    assert(rowsOf(GraftPlans.rangeJoin(l, "id", "vec", r, "id", "vec", tau = 0.5)
      .select("left_id", "right_id", "score")) == outerWant, "planned")
    assert(rowsOf(GraftPlans.rangeJoin(l, "id", "vec", r, "id", "vec", tau = 0.5,
      keepUnmatched = false).select("left_id", "right_id", "score")) ==
      Set(Seq[Any](1L, 10L, 1.0)), "planned")
  }

  // --- the pair-work split ---------------------------------------------------

  /** `f`'s result and the pairs its scans scored. */
  private def scored[T](f: => T): (T, Long) = {
    val acc = VecScan.pairsScored(spark.sparkContext)
    val before = acc.value
    val out = f
    (out, acc.value - before)
  }

  private def tasks(df: DataFrame): Int = df.queryExecution.toRdd.getNumPartitions

  private def randomVecs(n: Int, dim: Int, seed: Int, firstId: Long = 0L): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (firstId + i, Array.fill(dim)(rnd.nextGaussian())))
  }

  /** The RDDs `rdd` is computed from, itself first. */
  private def lineage(rdd: RDD[_]): Seq[RDD[_]] = rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))

  test("split: a one-partition left side above the pair-work bound scans on several tasks; a small one on one") {
    import spark.implicits._
    val right = VecScan.Mat.of(randomVecs(2000, 64, 1).map(_._1).toArray,
      randomVecs(2000, 64, 1).map(_._2).toArray)
    val rows = randomVecs(1500, 64, 2, 100000L)
    // every left row's top-k is its own, split or not
    val out = new Array[Double](right.size)
    val buf = new TopKBuffer(3)
    val want = rows.flatMap { case (id, v) =>
      VecScan.topK(id, v, right, excludeSelf = false, buf, out)
      (0 until buf.n).map(r => Seq[Any](id, buf.ids(r), buf.scores(r), r + 1))
    }.toSet
    // a left side that is re-read per slice only when that is a read (cached
    // or checkpointed); any other is shuffled once into the slices by id
    val layouts = Seq(
      ("one local partition", rows.toDF("id", "vec").coalesce(1), false),
      ("through a shuffle", rows.toDF("id", "vec").repartition(3).repartition(1), false),
      ("checkpointed", rows.toDF("id", "vec").repartition(1).localCheckpoint(), true))
    layouts.foreach { case (name, big, reread) =>
      val bigScan = VecScan.knn(big, "id", "vec", right, 3, excludeSelf = false)
      assert(tasks(bigScan) > 1, s"$name: one-partition left above the bound scans in ${tasks(bigScan)} task(s)")
      val kinds = lineage(bigScan.queryExecution.toRdd)
      assert(kinds.exists(_.isInstanceOf[SlicedRDD[_]]) == reread, name)
      assert(kinds.exists(_.isInstanceOf[ShuffledRDD[_, _, _]]) == !reread, name)
      val (bigRows, bigPairs) = scored(bigScan.collect())
      assert(bigPairs == 1500L * 2000 && bigRows.length == 1500 * 3, name)
      assert(bigRows.map(_.toSeq).toSet == want, name)
    }
    val small = randomVecs(100, 64, 3, 100000L).toDF("id", "vec").coalesce(1)
    val smallScan = VecScan.knn(small, "id", "vec", right, 3, excludeSelf = false)
    val (_, smallPairs) = scored(smallScan.collect())
    assert(tasks(smallScan) == 1 && smallPairs == 100L * 2000)
    // the i<j self-scan scores n(n-1)/2 pairs
    val self = randomVecs(300, 8, 4).toDF("id", "vec")
    val selfMat = VecScan.collectMat(self, "id", "vec")
    val (_, upperPairs) = scored(VecScan.range(self, "id", "vec", selfMat, 0.5,
      excludeSelf = true, onlyUpperPairs = true).collect())
    assert(upperPairs == 300L * 299 / 2)
  }

  test("split: the planned kNN join over a left side that comes through a shuffle scores each row once") {
    import spark.implicits._
    val rightRows = randomVecs(2000, 64, 5)
    val rows = randomVecs(1500, 64, 6, 100000L)
    val r = rightRows.toDF("id", "vec")
    val l = rows.toDF("id", "vec").repartition(3).repartition(1)
    val scan = GraftPlans.knnJoin(l, "id", "vec", r, "id", "vec", k = 2)
    assert(tasks(scan) > 1)
    val (got, pairs) = scored(scan.select("left_id", "right_id", "score", "rank").collect())
    val right = VecScan.Mat.of(rightRows.map(_._1).toArray, rightRows.map(_._2).toArray)
    val out = new Array[Double](right.size)
    val buf = new TopKBuffer(2)
    val want = rows.flatMap { case (id, v) =>
      VecScan.topK(id, v, right, excludeSelf = false, buf, out)
      (0 until buf.n).map(i => Seq[Any](id, buf.ids(i), buf.scores(i), i + 1))
    }
    assert(pairs == 1500L * 2000)
    assert(got.map(_.toSeq).sortBy(r => (r(0).asInstanceOf[Long], r(3).asInstanceOf[Int])).toSeq ==
      want.sortBy(r => (r(0).asInstanceOf[Long], r(3).asInstanceOf[Int])))
  }

  test("split: an i<j self-scan over two partitions of ordered ids deals even pair counts to every task") {
    import spark.implicits._
    val rows = randomVecs(2000, 128, 7)
    val mat = VecScan.Mat.of(rows.map(_._1).toArray, rows.map(_._2).toArray)
    // each partition holds a contiguous id run: the low ids carry most of
    // the i<j pairs
    val ordered = rows.toDF("id", "vec").repartitionByRange(2, col("id"))
    for ((name, left) <- Seq("through a shuffle" -> ordered,
        "checkpointed" -> ordered.localCheckpoint())) {
      assert(left.rdd.getNumPartitions == 2, name)
      // τ = -1 keeps every scored pair, so a task's rows are its pairs
      val scan = VecScan.range(left, "id", "vec", mat, -1.0, excludeSelf = true,
        onlyUpperPairs = true)
      val perTask = scan.queryExecution.toRdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
      assert(perTask.length > 2 && perTask.sum == 2000L * 1999 / 2, s"$name: ${perTask.toSeq}")
      assert(perTask.max <= 1.5 * perTask.min, s"$name: pairs per task ${perTask.toSeq}")
    }
  }

  test("SlicedRDD: every row lands in exactly one slice even when each read returns a new order") {
    for (parts <- Seq(1, 3)) {
      val parent = spark.sparkContext.parallelize(0L until 2000L, parts)
        .mapPartitions(it => scala.util.Random.shuffle(it.toVector).iterator)
      val sliced = new SlicedRDD(parent, 4, (id: Long) => VecScan.sliceOf(id, 4))
      assert(sliced.getNumPartitions == 4, parts)
      val perSlice = sliced.glom().collect()
      assert(perSlice.forall(_.nonEmpty), parts)
      assert(perSlice.flatten.sorted.toSeq == (0L until 2000L), parts)
    }
  }

  // --- partition independence and one evaluation per operator ---------------

  private val words = Array.tabulate(60)(i => s"w$i")

  /** Docs with planted near-duplicates, in id order, with a few null blocks. */
  private def docs(n: Int, seed: Int, firstId: Long): Seq[(Long, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val bases = Array.fill(n / 3)(Array.fill(8)(words(rnd.nextInt(words.length))))
    (0 until n).map { i =>
      val b = bases(rnd.nextInt(bases.length)).clone()
      b(rnd.nextInt(b.length)) = words(rnd.nextInt(words.length))
      (firstId + i, b.mkString(" "), if (i % 17 == 0) null else s"s${i % 5}")
    }
  }

  private def asFrame(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  /** The same rows in one partition and in 7, in doc_id order either way (the
    * keep-first of dedup follows input order).
    */
  private def bothLayouts(rows: Seq[(Long, String, String)]): Seq[DataFrame] = {
    val one = asFrame(rows).coalesce(1)
    Seq(one, asFrame(rows).repartitionByRange(7, col("doc_id")).sortWithinPartitions("doc_id"))
  }

  test("operators: identical rows (exact doubles) on 1 and 7 partitions; each scan evaluated once") {
    val emb = new HashEmbedder(32)
    val leftRows = docs(120, 11, 0L)
    val rightRows = docs(300, 12, 1000L)
    val union = leftRows ++ rightRows
    val nonNull = (rs: Seq[(Long, String, String)]) => rs.filter(_._3 != null).groupBy(_._3).view
      .mapValues(_.size).toMap
    val (lb, rb) = (nonNull(leftRows), nonNull(rightRows))
    val blockPairs = lb.map { case (b, n) => n.toLong * rb.getOrElse(b, 0) }.sum
    val nDistinct = union.map(_._2).distinct.size.toLong
    val nUnion = union.size.toLong

    def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    /** Cluster labels are internal row ids; compare the grouping of doc_ids. */
    def grouping(rows: Set[Seq[Any]]): Set[Set[Any]] = rows.groupBy(_.last).toSet
      .flatMap { (g: (Any, Set[Seq[Any]])) =>
        if (g._1 == -1L) g._2.map(r => Set(r.head)) else Set(g._2.map(_.head))
      }

    val Seq(l1, l7) = bothLayouts(leftRows)
    val Seq(r1, r7) = bothLayouts(rightRows)
    val Seq(u1, u7) = bothLayouts(union)
    val cases: Seq[(String, (DataFrame, DataFrame, DataFrame) => DataFrame, Long)] = Seq(
      ("mergeKnn", (l, r, _) => SemanticJoin.mergeKnn(l, r, on = Seq("text"), embedder = emb, k = 3),
        120L * 300),
      ("mergeRange", (l, r, _) => SemanticJoin.mergeRange(l, r, on = Seq("text"), embedder = emb,
        simThreshold = 0.6), 120L * 300),
      ("mergeBlocking", (l, r, _) => SemanticJoin.mergeBlocking(l, r, blockingVars = Seq("source"),
        on = Seq("text"), embedder = emb), blockPairs),
      ("dedupRows", (_, _, u) => Clustering.dedupRows(u, Seq("text"), emb, threshold = 0.6),
        nDistinct * (nDistinct - 1) / 2),
      ("clusterRows", (_, _, u) => Clustering.clusterRows(u, Seq("text"), emb, threshold = 0.6),
        nUnion * (nUnion - 1) / 2))
    cases.foreach { case (name, op, pairsWant) =>
      val (one, pairs1) = scored(rowSet(op(l1, r1, u1)))
      val (seven, pairs7) = scored(rowSet(op(l7, r7, u7)))
      if (name == "clusterRows") assert(grouping(one) == grouping(seven), name)
      else assert(one == seven, s"$name: ${(one diff seven).take(3)} vs ${(seven diff one).take(3)}")
      assert(one.nonEmpty, name)
      assert(pairs1 == pairsWant && pairs7 == pairsWant,
        s"$name scored $pairs1 / $pairs7 pairs on 1 / 7 partitions, one evaluation is $pairsWant")
    }
  }

  test("mergeBlocking: block keys of different types match as === does; each left row comes out once") {
    import spark.implicits._
    val emb = new HashEmbedder(16)
    val l = Seq((1L, "alpha beta", 1), (2L, "gamma delta", 2)).toDF("doc_id", "text", "block")
    val r = Seq((10L, "alpha beta", 1.5), (11L, "gamma delta", 2.0)).toDF("doc_id", "text", "block")
    val out = SemanticJoin.mergeBlocking(l, r, blockingVars = Seq("block"), on = Seq("text"), embedder = emb)
    // int 1 and double 1.5 are different blocks: both pass through unmatched
    assert(out.count() == 3)
    assert(rowsOf(out.filter(col("score").isNotNull).select("doc_id_x", "doc_id_y")) == Set(Seq[Any](2L, 11L)))
    assert(rowsOf(out.filter(col("score").isNull).select("doc_id")) == Set(Seq[Any](1L), Seq[Any](10L)))
  }
}
