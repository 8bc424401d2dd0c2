package graft.operators

import graft.operators.Regime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The partitioned tier ([[Resident.Partitioned]]): a pinned bm25, ANN
  * (float, int8, PQ) or MinHash index over the resident bound serves from
  * per-partition mirrors in one Spark job per search. Its rows must be
  * bit-identical (scores compared by bit pattern) to the distributed plan of
  * the same files opened unpinned, which stays the reference, and to the
  * driver mirror (and, for bm25, to `bm25TopK`), at any partition count. The
  * specs live in `graft.operators` to reach each index's `Resident.Tiers`.
  */
class PartitionedTierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def textDf(rows: Seq[(Long, String)]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, t) => org.apache.spark.sql.Row(i, t) }: _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
  }

  /** Docs whose scores vary in tf, dl and df. */
  private def docs(n: Int, from: Int = 0): DataFrame = textDf((from until from + n).map { i =>
    (i.toLong, s"w${i % 5} w${i % 7} w${i % 7} w${i % 11} shared token$i" +
      (if (i % 3 == 0) " w1 w1 body" else " body"))
  })

  /** `n` identical docs: equal scores on any query, ranked by id. */
  private def tieDocs(n: Int, from: Int): DataFrame =
    textDf((from until from + n).map(i => (i.toLong, "tieword common filler")))

  private def queries: DataFrame = textDf(Seq(
    (1L, "w1 w3 shared"), (2L, "w2 w6 token7 body"), (3L, "w4 w10 w0"),
    (4L, "tieword"), (5L, "token2001 w1"), (6L, "unknownterm w5")))

  /** Rows with doubles as exact bit patterns. */
  private def bits(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case x => String.valueOf(x)
    }.mkString("|")).toSet

  /** Runs `f` with the resident bound at 0: every pinned index is over it. */
  private def overBound[A](f: => A): A = Regime.forcing(spark, Regime.DriverResidentRows, 0L)(f)

  /** Runs `f` with the resident bound at its default, inside [[overBound]]. */
  private def underBound[A](f: => A): A =
    Regime.forcing(spark, Regime.DriverResidentRows, Regime.DriverResidentRows.default)(f)

  private def write(corpus: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_partitioned").toString
    val (p, st) = Lexical.bm25BuildIndex(corpus, "id", "text")
    Lexical.bm25WriteIndex(p, st, dir, nBuckets = 8)
    dir
  }

  private def pinned(dir: String): Lexical.Bm25Index = {
    val idx = Lexical.bm25OpenIndex(spark, dir)
    idx.postings.persist(); idx.postings.count()
    idx
  }

  private def search(idx: Lexical.Bm25Index, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Lexical.bm25SearchIndex(idx, queries, "id", "text", 5, k1, b)

  /** `f`'s value, with the partitioned and resident searches it ran. */
  private def tally[A](f: => A): (A, Long, Long) = {
    val p0 = Resident.partitionedSearches.get()
    val r0 = Resident.residentSearches.get()
    val a = f
    (a, Resident.partitionedSearches.get() - p0, Resident.residentSearches.get() - r0)
  }

  /** Rows of `f`, with the partitioned and resident searches it ran. */
  private def counted(f: => DataFrame): (Set[String], Long, Long) = tally(bits(f))

  test("rows bit-equal to the unpinned plan and bm25TopK: baked, non-default params, appended, tombstoned; the driver mirror too") {
    overBound {
      val base = docs(300)
      val dir = write(base)
      def check(label: String, corpus: DataFrame, k1: Double, b: Double): Unit = {
        // the reference first: the cache manager matches frames by plan, so
        // an open of these files is cold only while no open of them is pinned
        val (plan, p0, r0) = counted(search(Lexical.bm25OpenIndex(spark, dir), k1, b))
        assert(p0 == 0 && r0 == 0, s"$label: the reference must run the plan")
        val idx = pinned(dir)
        try {
          val (got, parts, res) = counted(search(idx, k1, b))
          assert(parts == 1 && res == 0, s"$label: the partitioned tier must serve")
          assert(got.nonEmpty)
          assert(got == plan, s"$label: diverged from the plan")
          // the driver mirror runs the same fold
          val (viaMirror, _, mirrored) = underBound(counted(search(idx, k1, b)))
          assert(mirrored == 1 && viaMirror == plan, s"$label: the driver mirror diverged")
          assert(got == bits(Lexical.bm25TopK(corpus, "id", "text", queries, "id", "text",
            5, k1, b)), s"$label: diverged from bm25TopK")
        } finally {
          idx.tiers.drop(); idx.postings.unpersist()
        }
      }
      check("baked", base, 1.2, 0.75)
      check("non-default (k1, b)", base, 0.9, 0.4)
      assert(Lexical.bm25AppendIndex(spark, dir, docs(40, from = 2000), "id", "text", "b1"))
      val appended = base.union(docs(40, from = 2000))
      check("appended", appended, 1.2, 0.75)
      val gone = Seq(3L, 17L, 40L, 2001L)
      assert(Lexical.bm25DeleteFromIndex(spark, dir, textDf(gone.map(i => (i, ""))), "id", "d1"))
      check("appended and tombstoned", appended.filter(!col("id").isin(gone: _*)), 1.2, 0.75)
      check("appended and tombstoned, non-default (k1, b)",
        appended.filter(!col("id").isin(gone: _*)), 0.9, 0.4)
    }
  }

  test("filtered view and ties at rank k across partitions: identical rows at 1 partition and at defaultParallelism") {
    overBound {
      val dir = write(docs(200).union(tieDocs(20, from = 500)))
      val n = spark.sparkContext.defaultParallelism
      assert(n > 1)
      // the tied docs land in more than one partition of the n-way deal
      val hp = new org.apache.spark.HashPartitioner(n)
      assert((500L until 520L).map(hp.getPartition).distinct.size > 1)
      // references before any pin: the cache manager matches frames by plan
      val cold = Lexical.bm25OpenIndex(spark, dir)
      val (plan, p0, _) = counted(search(cold))
      assert(p0 == 0)
      // the tie query's k rows are the k smallest tied ids, as the plan ranks them
      assert(plan.filter(_.startsWith("4|")).map(_.split('|')(2).toLong) == (500L until 505L).toSet)
      val allow = docs(220).select(col("id")).filter(col("id") % 2 === 0)
      val viewPlan = bits(search(Lexical.bm25FilteredView(cold, allow, "id")))
      assert(viewPlan.nonEmpty && viewPlan != plan)
      val live = pinned(dir)
      try {
        /** Search `idx` through a tier of `parts` partitions. */
        def at(parts: Int, idx: Lexical.Bm25Index): Set[String] = {
          assert(idx.tiers.partitioned(parts).parts.getNumPartitions == parts)
          val (got, p, _) = counted(search(idx))
          assert(p == 1)
          idx.tiers.drop()
          got
        }
        // copy(): fresh holders with no share key, one tier per copy
        assert(at(1, live.copy()) == plan, "1 partition")
        assert(at(n, live.copy()) == plan, s"$n partitions")
        assert(at(1, Lexical.bm25FilteredView(live.copy(), allow, "id")) == viewPlan,
          "filtered view, 1 partition")
        assert(at(n, Lexical.bm25FilteredView(live.copy(), allow, "id")) == viewPlan,
          s"filtered view, $n partitions")
        // an appended index: df attached in-plan before the deal
        assert(Lexical.bm25AppendIndex(spark, dir, docs(30, from = 2000), "id", "text", "b1"))
        val (appPlan, p1, _) = counted(search(Lexical.bm25OpenIndex(spark, dir)))
        assert(p1 == 0)
        val app = pinned(dir)
        try {
          assert(at(1, app.copy()) == appPlan)
          assert(at(n, app.copy()) == appPlan)
        } finally app.postings.unpersist()
      } finally live.postings.unpersist()
    }
  }

  test("one job per search, the first search included") {
    overBound {
      def jobsOf(f: => Unit): Long = graft.SpecJobs.count(spark)(f)
      val idx = pinned(write(docs(200)))
      idx.statsRow // read once per open, by the first search or a session's prewarm
      try {
        val first = jobsOf(search(idx).collect())
        assert(first == 1, s"first search (deals and caches the tier) ran $first jobs")
        val second = jobsOf(search(idx, 0.9, 0.4).collect())
        assert(second == 1, s"second search ran $second jobs")
        // the job ran at the call; a count of the LocalRelation result runs none
        val counted = jobsOf(search(idx).count())
        assert(counted == 1, s"a counted search ran $counted jobs")
      } finally {
        idx.tiers.drop()
        idx.postings.unpersist()
      }
    }
  }

  test("sibling sessions share one cached RDD; after swaps and close sc.getPersistentRDDs returns to its baseline") {
    overBound {
      val root = java.nio.file.Files.createTempDirectory("graft_partitioned_sess").toString
      val (p, st) = Lexical.bm25BuildIndex(docs(150), "id", "text")
      Lexical.bm25WriteIndex(p, st, IndexMaintenance.genPath(root, 0), nBuckets = 8)
      IndexMaintenance.commitGeneration(spark, root, 0)
      val sc = spark.sparkContext
      // locally checkpointed RDDs are the writers' (append, compaction)
      // one-shot pins, released by the context cleaner; the sessions pin none
      def persisted: Set[Int] =
        sc.getPersistentRDDs.values.filterNot(_.isCheckpointed).map(_.id).toSet
      def tiers: Int = sc.getPersistentRDDs.values.count(_.name == "bm25-partitioned")
      def census: Seq[Long] =
        Resident.residentCensus.filter(_._1 == "bm25-partitioned").map(_._2)
      val baseline = persisted
      val tiers0 = tiers
      val census0 = census.size
      // the reference is bm25TopK over the served corpus: an open of a
      // generation a session pins is pinned too (the cache manager matches
      // frames by plan), and every generation here is freshly baked
      var corpus = docs(150)
      def exact: Set[String] =
        bits(Lexical.bm25TopK(corpus, "id", "text", queries, "id", "text", 5))
      val s1 = ServingSession.bm25(spark, root)
      val s2 = ServingSession.bm25(spark, root)
      try {
        assert(tiers == tiers0 + 1, "two sessions over one generation share one tier")
        assert(census.size == census0 + 1)
        assert(Resident.sharedCensus.exists { case (k, refs) =>
          k.contains(root) && k.endsWith("|partitioned") && refs == 2 },
          s"want a refs=2 partitioned key for $root, got ${Resident.sharedCensus}")
        assert(s1.residentBytes == 0L && s2.residentBytes == 0L,
          "residentBytes is the driver mirror; over the bound there is none")
        // sized from the block manager's status store, which the listener
        // bus feeds asynchronously
        val deadline = System.nanoTime() + 5000000000L
        while (census.sum == 0L && System.nanoTime() < deadline) Thread.sleep(20)
        assert(census.sum > 0L, "the tier's cached blocks must be sized")
        val (r1, parts, res) = counted(search(s1.index))
        assert(parts == 1 && res == 0)
        assert(r1 == exact)
        s1.close()
        assert(tiers == tiers0 + 1, "the tier must outlive the first session's close")
        assert(bits(search(s2.index)) == r1)
        (1 to 2).foreach { g =>
          val batch = docs(20, from = 3000 + 100 * g)
          assert(Lexical.bm25AppendIndex(spark, IndexMaintenance.currentPath(spark, root),
            batch, "id", "text", s"b$g"))
          corpus = corpus.union(batch)
          IndexMaintenance.maintainIndexes(spark, bm25Root = Some(root),
            policy = IndexMaintenance.Policy(bm25MaxAppendFraction = 0.0))
          val (gen, idx) = s2.resolved
          assert(gen == g)
          assert(tiers == tiers0 + 1, s"the swap to gen-$g must release the old tier")
          val (got, parts, _) = counted(search(idx))
          assert(parts == 1)
          assert(got == exact, s"gen-$g diverged from bm25TopK")
        }
      } finally { s1.close(); s2.close() }
      assert((persisted -- baseline).isEmpty,
        s"still persisted after close: ${(persisted -- baseline).map(sc.getPersistentRDDs(_))}")
      assert(tiers == tiers0)
      assert(census.size == census0)
      assert(!Resident.sharedCensus.exists(_._1.contains(root)))
    }
  }

  // ------------------------------------------------------------------
  // ANN (float, int8, PQ) and MinHash
  // ------------------------------------------------------------------

  private def vecDf(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => org.apache.spark.sql.Row(i, v) }: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }

  private def vecs(n: Int, from: Int = 0): Seq[(Long, Seq[Double])] =
    (from until from + n).map(i => (i.toLong, (0 until 8).map(d => math.sin(i * 13 + d * 7))))

  /** One direction shared by the tied vectors and the tie query. */
  private val tieVec: Seq[Double] = (0 until 8).map(d => math.cos(d * 1.0))

  /** `n` identical vectors: equal scores on any query, ranked by id. */
  private def tieVecs(n: Int, from: Int): Seq[(Long, Seq[Double])] =
    (from until from + n).map(i => (i.toLong, tieVec))

  /** Six probe queries and the tie query (id 99); a LocalRelation, the
    * serving shape.
    */
  private lazy val annQueries: DataFrame = vecDf(vecs(6, from = 900) :+ ((99L, tieVec)))

  /** Float, int8 and PQ rows of one search each through `idx`. */
  private def annSearches(idx: Ann.AnnIndex): Seq[Set[String]] = Seq(
    bits(Ann.annSearchIndex(idx, annQueries, "vec_id", "embedding", k = 5, nProbe = 2)),
    bits(Ann.annSearchIndexInt8(idx, annQueries, "vec_id", "embedding", k = 5, nProbe = 2,
      rerankFactor = 2)),
    bits(Ann.annSearchIndexPq(idx, annQueries, "vec_id", "embedding", k = 5, nProbe = 2,
      rerankFactor = 2)))

  private def pinnedAnn(dir: String): Ann.AnnIndex = {
    val idx = Ann.annOpenIndex(spark, dir)
    idx.cells.persist(); idx.cells.count()
    idx
  }

  /** `idx`'s searches through a tier of `parts` partitions, and through the
    * driver mirror.
    */
  private def annTiers(idx: Ann.AnnIndex, parts: Seq[Int]): (Seq[Seq[Set[String]]], Seq[Set[String]]) = {
    val viaTiers = parts.map { n =>
      val tiered = idx.copy() // fresh holders with no share key: one tier per copy
      assert(tiered.tiers.partitioned(n).parts.getNumPartitions == n)
      val (got, p, r) = tally(annSearches(tiered))
      assert(p == 3 && r == 0, s"$n partitions: the partitioned tier must serve all three")
      tiered.tiers.drop()
      got
    }
    val mirror = idx.copy()
    val (viaMirror, p, r) = underBound(tally(annSearches(mirror)))
    assert(p == 0 && r == 3, "the driver mirror must serve all three")
    mirror.tiers.drop()
    (viaTiers, viaMirror)
  }

  test("ann float, int8 and PQ: rows bit-equal to the unpinned plan and the driver mirror at 1, 3 and defaultParallelism partitions; ties at rank k, a filtered view, appended and tombstoned") {
    overBound {
      val n = spark.sparkContext.defaultParallelism
      val parts = Seq(1, 3, n)
      val dir = java.nio.file.Files.createTempDirectory("graft_partitioned_ann").toString
      val (cells, cents) = Ann.annBuildIndex(vecDf(vecs(300) ++ tieVecs(20, from = 500)),
        "vec_id", "embedding", nCentroids = 6)
      Ann.annWriteIndex(cells, cents, dir, pqM = 4)
      // the tied vectors land in more than one partition of the n-way deal
      val hp = new org.apache.spark.HashPartitioner(n)
      assert((500L until 520L).map(hp.getPartition).distinct.size > 1)
      val allow = vecDf(vecs(320)).select(col("vec_id")).filter(col("vec_id") % 2 === 0)
      def check(label: String, withView: Boolean): Seq[Set[String]] = {
        // references before any pin: the cache manager matches frames by plan
        val cold = Ann.annOpenIndex(spark, dir)
        val (plan, p0, r0) = tally(annSearches(cold))
        assert(p0 == 0 && r0 == 0, s"$label: the reference must run the plan")
        assert(plan.forall(_.nonEmpty))
        val viewPlan =
          if (withView) Some(annSearches(Ann.annFilteredView(cold, allow, "vec_id"))) else None
        val live = pinnedAnn(dir)
        try {
          val (tiers, mirror) = annTiers(live, parts)
          tiers.zip(parts).foreach { case (got, p) =>
            assert(got == plan, s"$label: $p partitions diverged from the plan")
          }
          assert(mirror == plan, s"$label: the driver mirror diverged from the plan")
          viewPlan.foreach { vp =>
            assert(vp != plan && vp.forall(_.nonEmpty))
            val (vTiers, vMirror) = annTiers(Ann.annFilteredView(live.copy(), allow, "vec_id"), parts)
            vTiers.foreach(got => assert(got == vp, s"$label: filtered view diverged"))
            assert(vMirror == vp)
          }
        } finally live.cells.unpersist()
        plan
      }
      val base = check("base", withView = true)
      // every leg of the tie query ranks the 5 smallest tied ids, as the plan does
      base.foreach { rows =>
        assert(rows.filter(_.startsWith("99|")).map(_.split('|')(1).toLong) ==
          (500L until 505L).toSet)
      }
      assert(Ann.annAppendIndex(spark, dir, vecDf(vecs(40, from = 2000) ++ tieVecs(4, from = 480)),
        "vec_id", "embedding", "b1"))
      check("appended", withView = false)
      assert(Ann.annDeleteFromIndex(spark, dir, vecDf(Seq(3L, 17L, 480L, 500L, 2001L)
        .map(i => (i, tieVec))), "vec_id", "d1"))
      check("appended and tombstoned", withView = false)
    }
  }

  /** MinHash docs with string ids (numeric, so an allow-list of longs can
    * name them) and one null id.
    */
  private def mhDocs(ids: Seq[String], text: Int => String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    spark.createDataFrame(
      java.util.Arrays.asList(ids.zipWithIndex.map { case (id, i) =>
        org.apache.spark.sql.Row(id, text(i)) }: _*),
      StructType(Seq(StructField("id", StringType, nullable = true),
        StructField("text", StringType, nullable = true))))
  }

  private def nearDup(i: Int): String =
    s"shared text block number ${i / 3} with stable words and more words tail${i % 3}"

  private lazy val mhCorpus: DataFrame =
    mhDocs((0 until 90).map(i => (1000 + i).toString) :+ null, i => nearDup(i % 90))

  private lazy val mhBatch: DataFrame =
    mhDocs((0 until 12).map(i => (5000 + i).toString) :+ null, i => nearDup(i * 7 % 90))

  private def mhSearch(idx: Dedup.MinHashIndex): Set[String] =
    bits(Dedup.minhashSearchIndex(idx, mhBatch, "id", "text", jaccardThreshold = 0.5))

  private def pinnedMinhash(dir: String): Dedup.MinHashIndex = {
    val idx = Dedup.minhashOpenIndex(spark, dir)
    idx.postings.persist(); idx.postings.count()
    idx.shingles.persist(); idx.shingles.count()
    idx
  }

  /** `idx`'s search through a tier of each of `parts` partitions, and
    * through the driver mirror.
    */
  private def minhashTiers(idx: Dedup.MinHashIndex, parts: Seq[Int]): (Seq[Set[String]], Set[String]) = {
    val viaTiers = parts.map { n =>
      val tiered = idx.copy()
      assert(tiered.tiers.partitioned(n).parts.getNumPartitions == n)
      val (got, p, r) = tally(mhSearch(tiered))
      assert(p == 1 && r == 0, s"$n partitions: the partitioned tier must serve")
      tiered.tiers.drop()
      got
    }
    val mirror = idx.copy()
    val (viaMirror, p, r) = underBound(tally(mhSearch(mirror)))
    assert(p == 0 && r == 1, "the driver mirror must serve")
    mirror.tiers.drop()
    (viaTiers, viaMirror)
  }

  test("minhash: rows equal to the unpinned plan and the driver mirror at 1, 3 and defaultParallelism partitions; string and null ids, a filtered view, appended and tombstoned") {
    overBound {
      val n = spark.sparkContext.defaultParallelism
      val parts = Seq(1, 3, n)
      val dir = java.nio.file.Files.createTempDirectory("graft_partitioned_mh").toString
      Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(mhCorpus, "id", "text"), dir)
      val allow = spark.range(1000, 1100).filter(col("id") % 2 === 0).toDF("id")
      def check(label: String, withView: Boolean): Set[String] = {
        val cold = Dedup.minhashOpenIndex(spark, dir)
        val (plan, p0, r0) = tally(mhSearch(cold))
        assert(p0 == 0 && r0 == 0, s"$label: the reference must run the plan")
        assert(plan.nonEmpty)
        val viewPlan =
          if (withView) Some(mhSearch(Dedup.minhashFilteredView(cold, allow, "id"))) else None
        val live = pinnedMinhash(dir)
        try {
          val (tiers, mirror) = minhashTiers(live, parts)
          tiers.zip(parts).foreach { case (got, p) =>
            assert(got == plan, s"$label: $p partitions diverged from the plan")
          }
          assert(mirror == plan, s"$label: the driver mirror diverged from the plan")
          viewPlan.foreach { vp =>
            assert(vp.nonEmpty && vp != plan)
            val (vTiers, vMirror) =
              minhashTiers(Dedup.minhashFilteredView(live.copy(), allow, "id"), parts)
            vTiers.foreach(got => assert(got == vp, s"$label: filtered view diverged"))
            assert(vMirror == vp)
          }
        } finally { live.postings.unpersist(); live.shingles.unpersist() }
        plan
      }
      val base = check("base", withView = true)
      assert(base.forall(r => !r.startsWith("null|") && !r.contains("|null|")),
        "a null id joins nothing")
      assert(Dedup.minhashAppendIndex(spark, dir,
        mhDocs((0 until 6).map(i => (3000 + i).toString), i => nearDup(i * 11 % 90)),
        "id", "text", "b1"))
      check("appended", withView = false)
      assert(Dedup.minhashDeleteFromIndex(spark, dir,
        spark.range(1000, 1012).toDF("id"), "id", "d1"))
      check("appended and tombstoned", withView = false)
    }
  }

  test("ann and minhash: one job per search, the first search included") {
    overBound {
      def jobsOf(f: => Unit): Long = graft.SpecJobs.count(spark)(f)
      val annDir = java.nio.file.Files.createTempDirectory("graft_partitioned_ann_jobs").toString
      val (cells, cents) = Ann.annBuildIndex(vecDf(vecs(200)), "vec_id", "embedding", nCentroids = 4)
      Ann.annWriteIndex(cells, cents, annDir, pqM = 4)
      val ann = pinnedAnn(annDir)
      val mhDir = java.nio.file.Files.createTempDirectory("graft_partitioned_mh_jobs").toString
      Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(mhCorpus, "id", "text"), mhDir)
      val mh = pinnedMinhash(mhDir)
      ann.centroidMat // read once per open, by the first search or a session's prewarm
      try {
        val first = jobsOf(Ann.annSearchIndex(ann, annQueries, "vec_id", "embedding", k = 3,
          nProbe = 2).collect())
        assert(first == 1, s"first ann search (deals and caches the tier) ran $first jobs")
        val int8 = jobsOf(Ann.annSearchIndexInt8(ann, annQueries, "vec_id", "embedding", k = 3,
          nProbe = 2).collect())
        assert(int8 == 1, s"int8 search ran $int8 jobs")
        val pq = jobsOf(Ann.annSearchIndexPq(ann, annQueries, "vec_id", "embedding", k = 3,
          nProbe = 2).count())
        assert(pq == 1, s"a counted PQ search ran $pq jobs")
        val mhFirst = jobsOf(Dedup.minhashSearchIndex(mh, mhBatch, "id", "text", 0.5).collect())
        assert(mhFirst == 1, s"first minhash search ran $mhFirst jobs")
        val mhCounted = jobsOf(Dedup.minhashSearchIndex(mh, mhBatch, "id", "text", 0.5).count())
        assert(mhCounted == 1, s"a counted minhash search ran $mhCounted jobs")
      } finally {
        ann.tiers.drop(); ann.cells.unpersist()
        mh.tiers.drop(); mh.postings.unpersist(); mh.shingles.unpersist()
      }
    }
  }

  test("a warm search is one job of one completed stage: bm25, bm25 filtered, ann float, int8 and PQ, minhash; the first search is one job") {
    overBound {
      /** `f`'s jobs, with the partitioned searches it ran. */
      def census(f: => DataFrame): (Vector[graft.Instrument.Job], Long) = {
        val (jobs, parts, _) = tally(graft.SpecJobs.of(spark)(f.collect())._2)
        (jobs, parts)
      }
      /** The first search deals and caches the tier: one job. */
      def first(label: String)(f: => DataFrame): Unit = {
        val (jobs, parts) = census(f)
        assert(parts == 1 && jobs.size == 1, s"$label: first search ran ${jobs.size} jobs")
      }
      /** A warm search: one job of one completed stage, served by the tier. */
      def warm(label: String)(f: => DataFrame): Unit = {
        val (jobs, parts) = census(f)
        assert(parts == 1, s"$label: the partitioned tier must serve")
        assert(jobs.size == 1, s"$label: a warm search ran ${jobs.size} jobs")
        assert(jobs.head.stages == 1,
          s"$label: a warm search ran ${jobs.head.stages} stages: ${jobs.head.stageSites}")
      }
      val bm25 = pinned(write(docs(200)))
      bm25.statsRow // read once per open, by the first search or a session's prewarm
      val annDir = java.nio.file.Files.createTempDirectory("graft_partitioned_ann_stages").toString
      val (cells, cents) = Ann.annBuildIndex(vecDf(vecs(200)), "vec_id", "embedding", nCentroids = 4)
      Ann.annWriteIndex(cells, cents, annDir, pqM = 4)
      val ann = pinnedAnn(annDir)
      ann.centroidMat
      val mhDir = java.nio.file.Files.createTempDirectory("graft_partitioned_mh_stages").toString
      Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(mhCorpus, "id", "text"), mhDir)
      val mh = pinnedMinhash(mhDir)
      try {
        first("bm25")(search(bm25))
        warm("bm25")(search(bm25, 0.9, 0.4))
        val view = Lexical.bm25FilteredView(bm25, docs(200).select(col("id"))
          .filter(col("id") % 2 === 0), "id")
        search(view).collect() // collects the view's allow set once
        warm("bm25 filtered")(search(view))
        first("ann float")(Ann.annSearchIndex(ann, annQueries, "vec_id", "embedding", k = 3,
          nProbe = 2))
        warm("ann float")(Ann.annSearchIndex(ann, annQueries, "vec_id", "embedding", k = 3,
          nProbe = 2))
        warm("ann int8")(Ann.annSearchIndexInt8(ann, annQueries, "vec_id", "embedding", k = 3,
          nProbe = 2))
        warm("ann PQ")(Ann.annSearchIndexPq(ann, annQueries, "vec_id", "embedding", k = 3,
          nProbe = 2))
        first("minhash")(Dedup.minhashSearchIndex(mh, mhBatch, "id", "text", 0.5))
        warm("minhash")(Dedup.minhashSearchIndex(mh, mhBatch, "id", "text", 0.5))
      } finally {
        bm25.tiers.drop(); bm25.postings.unpersist()
        ann.tiers.drop(); ann.cells.unpersist()
        mh.tiers.drop(); mh.postings.unpersist(); mh.shingles.unpersist()
      }
    }
  }

  test("over the byte bound a pinned search falls back to the family's plan: bm25, ann and minhash rows bit-identical, the tier serves none") {
    overBound {
      /** `f`'s rows, with the byte bound the fold outputs share forced to 1 byte. */
      def tiny(f: => DataFrame): (Set[String], Long, Long) =
        Regime.forcing(spark, Regime.MaxBroadcastBytes, 1L)(counted(f))
      val dir = write(docs(200))
      val (plan, p0, _) = counted(search(Lexical.bm25OpenIndex(spark, dir)))
      assert(p0 == 0 && plan.nonEmpty)
      val bm25 = pinned(dir)
      val annDir = java.nio.file.Files.createTempDirectory("graft_partitioned_ann_bytes").toString
      val (cells, cents) = Ann.annBuildIndex(vecDf(vecs(200)), "vec_id", "embedding", nCentroids = 4)
      Ann.annWriteIndex(cells, cents, annDir, pqM = 4)
      def annSearch(idx: Ann.AnnIndex): DataFrame =
        Ann.annSearchIndex(idx, annQueries, "vec_id", "embedding", k = 3, nProbe = 2)
      val (annPlan, pa0, _) = counted(annSearch(Ann.annOpenIndex(spark, annDir)))
      assert(pa0 == 0 && annPlan.nonEmpty)
      val ann = pinnedAnn(annDir)
      val mhDir = java.nio.file.Files.createTempDirectory("graft_partitioned_mh_bytes").toString
      Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(mhCorpus, "id", "text"), mhDir)
      def mhFrame(idx: Dedup.MinHashIndex): DataFrame =
        Dedup.minhashSearchIndex(idx, mhBatch, "id", "text", jaccardThreshold = 0.5)
      val (mhPlan, pm0, _) = counted(mhFrame(Dedup.minhashOpenIndex(spark, mhDir)))
      assert(pm0 == 0 && mhPlan.nonEmpty)
      val mh = pinnedMinhash(mhDir)
      try {
        Seq[(String, Set[String], () => DataFrame)](
          ("bm25", plan, () => search(bm25)),
          ("ann", annPlan, () => annSearch(ann)),
          ("minhash", mhPlan, () => mhFrame(mh))).foreach { case (label, reference, f) =>
          val (got, parts, res) = tiny(f())
          assert(parts == 0 && res == 0, s"$label: over its byte share the tier must not serve")
          assert(got == reference, s"$label: the fallback diverged from the plan")
          // under the default bound the same pinned index serves from the tier
          val (served, p1, _) = counted(f())
          assert(p1 == 1 && served == reference, s"$label: the tier diverged from the plan")
        }
      } finally {
        bm25.tiers.drop(); bm25.postings.unpersist()
        ann.tiers.drop(); ann.cells.unpersist()
        mh.tiers.drop(); mh.postings.unpersist(); mh.shingles.unpersist()
      }
    }
  }

  test("ann and minhash sessions: one tier per generation; after a swap and close sc.getPersistentRDDs returns to its baseline") {
    overBound {
      val sc = spark.sparkContext
      def persisted: Set[Int] =
        sc.getPersistentRDDs.values.filterNot(_.isCheckpointed).map(_.id).toSet
      def tiers(kind: String): Int = sc.getPersistentRDDs.values.count(_.name == kind)
      val annRoot = java.nio.file.Files.createTempDirectory("graft_partitioned_ann_sess").toString
      val (cells, cents) = Ann.annBuildIndex(vecDf(vecs(200)), "vec_id", "embedding", nCentroids = 4)
      Ann.annWriteIndex(cells, cents, IndexMaintenance.genPath(annRoot, 0), pqM = 4)
      IndexMaintenance.commitGeneration(spark, annRoot, 0)
      val mhRoot = java.nio.file.Files.createTempDirectory("graft_partitioned_mh_sess").toString
      Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(mhCorpus, "id", "text"),
        IndexMaintenance.genPath(mhRoot, 0))
      IndexMaintenance.commitGeneration(spark, mhRoot, 0)
      val baseline = persisted
      val (ann0, mh0) = (tiers("ann-partitioned"), tiers("minhash-partitioned"))
      val annSess = ServingSession.ann(spark, annRoot)
      val mhSess = ServingSession.minhash(spark, mhRoot)
      try {
        assert(tiers("ann-partitioned") == ann0 + 1 && tiers("minhash-partitioned") == mh0 + 1,
          "prewarm builds each session's tier")
        assert(annSess.residentBytes == 0L && mhSess.residentBytes == 0L)
        val (a0, pa, _) = tally(annSearches(annSess.index))
        assert(pa == 3 && a0.forall(_.nonEmpty))
        val (m0, pm, _) = tally(mhSearch(mhSess.index))
        assert(pm == 1 && m0.nonEmpty)
        assert(Ann.annAppendIndex(spark, IndexMaintenance.currentPath(spark, annRoot),
          vecDf(vecs(20, from = 3000)), "vec_id", "embedding", "b1"))
        assert(Dedup.minhashAppendIndex(spark, IndexMaintenance.currentPath(spark, mhRoot),
          mhDocs(Seq("7000", "7001"), i => nearDup(i + 30)), "id", "text", "b1"))
        IndexMaintenance.maintainIndexes(spark, minhashRoot = Some(mhRoot), annRoot = Some(annRoot),
          policy = IndexMaintenance.Policy(annMaxAppendFraction = 0.0, minhashMaxFanIn = 1))
        assert(annSess.resolved._1 == 1 && mhSess.resolved._1 == 1)
        assert(tiers("ann-partitioned") == ann0 + 1 && tiers("minhash-partitioned") == mh0 + 1,
          "the swap must release the old tiers")
        val (_, pa1, _) = tally(annSearches(annSess.index))
        val (m1, pm1, _) = tally(mhSearch(mhSess.index))
        assert(pa1 == 3 && pm1 == 1 && m1.nonEmpty)
      } finally { annSess.close(); mhSess.close() }
      assert((persisted -- baseline).isEmpty,
        s"still persisted after close: ${(persisted -- baseline).map(sc.getPersistentRDDs(_))}")
      assert(tiers("ann-partitioned") == ann0 && tiers("minhash-partitioned") == mh0)
      assert(!Resident.sharedCensus.exists(k => k._1.contains(annRoot) || k._1.contains(mhRoot)))
    }
  }
}
