package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The partitioned bm25 tier ([[Resident.Bm25Partitioned]]): a pinned index
  * over the resident bound serves from per-partition mirrors in one Spark
  * job per search. Its rows must be bit-identical (scores compared by bit
  * pattern) to the distributed plan of the same files opened unpinned, which
  * stays the reference, and to `bm25TopK`, at any partition count. The
  * specs live in `graft.operators` to reach the tier's holder and its build.
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
  private def overBound[A](f: => A): A = {
    spark.conf.set(Resident.DriverResidentRowsKey, "0")
    try f finally spark.conf.unset(Resident.DriverResidentRowsKey)
  }

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

  /** Rows of `f`, with the partitioned and resident searches it ran. */
  private def counted(f: => DataFrame): (Set[String], Long, Long) = {
    val p0 = Lexical.partitionedSearches.get()
    val r0 = Resident.residentSearches.get()
    val rows = bits(f)
    (rows, Lexical.partitionedSearches.get() - p0, Resident.residentSearches.get() - r0)
  }

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
          spark.conf.unset(Resident.DriverResidentRowsKey)
          val (viaMirror, _, mirrored) =
            try counted(search(idx, k1, b))
            finally spark.conf.set(Resident.DriverResidentRowsKey, "0")
          assert(mirrored == 1 && viaMirror == plan, s"$label: the driver mirror diverged")
          assert(got == bits(Lexical.bm25TopK(corpus, "id", "text", queries, "id", "text",
            5, k1, b)), s"$label: diverged from bm25TopK")
        } finally {
          idx.partitionedHolder.drop(); idx.residentHolder.drop(); idx.postings.unpersist()
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
          idx.partitionedHolder.get(
            Resident.buildBm25Partitioned(Lexical.ensureDf(idx.postings), parts))
          assert(idx.partitioned.parts.getNumPartitions == parts)
          val (got, p, _) = counted(search(idx))
          assert(p == 1)
          idx.partitionedHolder.drop()
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
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      def quiesce(): Unit = {
        var last = -1L; var stable = 0
        val deadline = System.nanoTime() + 5000000000L
        while (stable < 4 && System.nanoTime() < deadline) {
          Thread.sleep(20)
          val now = jobs.get()
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
      }
      def jobsOf(f: => Unit): Long = {
        quiesce()
        val before = jobs.get()
        f
        quiesce()
        jobs.get() - before
      }
      val idx = pinned(write(docs(200)))
      idx.statsRow // read once per open, by the first search or a session's prewarm
      spark.sparkContext.addSparkListener(listener)
      try {
        val first = jobsOf(search(idx).collect())
        assert(first == 1, s"first search (deals and caches the tier) ran $first jobs")
        val second = jobsOf(search(idx, 0.9, 0.4).collect())
        assert(second == 1, s"second search ran $second jobs")
        // the result is a one-partition plan: a count adds no exchange
        val counted = jobsOf(search(idx).count())
        assert(counted == 1, s"a counted search ran $counted jobs")
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        idx.partitionedHolder.drop()
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
}
