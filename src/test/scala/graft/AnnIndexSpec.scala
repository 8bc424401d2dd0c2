package graft

import graft.operators.{Ann, Regime, Stress}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-IVF probe guard: the collected-probe isin path
  * and the over-bound join-based cell restriction must be row-identical
  * (bit-equal scores), the guard must actually pick the path the bound
  * dictates, and the stress leg's census must equal the base census at
  * multiplied counts.
  */
class AnnIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def emb(n: Int, dim: Int = 16): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private lazy val indexDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_spec").toString
    val (cells, cents) = Ann.annBuildIndex(emb(300), "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, dir)
    dir
  }
  private lazy val index: Ann.AnnIndex = Ann.annOpenIndex(spark, indexDir)

  private def sortedRows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))

  test("guard: under the bound the isin path runs; forced over-bound takes the join path") {
    val q = emb(300).filter(col("vec_id") < 20)
    val before = Ann.joinRestrictionSearches.get()
    val viaIsin = sortedRows(
      Ann.annSearchIndex(index, q, "vec_id", "embedding", k = 3, nProbe = 3))
    assert(Ann.joinRestrictionSearches.get() === before, "default bound must collect probes")
    val viaJoin = sortedRows(Regime.forcing(spark, Regime.MaxProbeRows, 1L)(
      Ann.annSearchIndex(index, q, "vec_id", "embedding", k = 3, nProbe = 3)))
    assert(Ann.joinRestrictionSearches.get() === before + 1, "forced bound must trip the guard")
    assert(viaJoin === viaIsin, "join-based cell restriction must be row-identical")
    assert(viaIsin.nonEmpty)
  }

  test("guard: session conf bound trips the guard without the override") {
    val q = emb(300).filter(col("vec_id") < 10)
    val before = Ann.joinRestrictionSearches.get()
    Regime.forcing(spark, Regime.MaxProbeRows, 5L) {
      val viaConf = sortedRows(
        Ann.annSearchIndex(index, q, "vec_id", "embedding", k = 3, nProbe = 3))
      assert(Ann.joinRestrictionSearches.get() === before + 1)
      assert(viaConf.nonEmpty)
    }
  }

  test("guard: int8 search paths are row-identical too") {
    val q = emb(300).filter(col("vec_id") < 20)
    val viaIsin = sortedRows(
      Ann.annSearchIndexInt8(index, q, "vec_id", "embedding", k = 3, nProbe = 3))
    val before = Ann.joinRestrictionSearches.get()
    val viaJoin = sortedRows(Regime.forcing(spark, Regime.MaxProbeRows, 1L)(
      Ann.annSearchIndexInt8(index, q, "vec_id", "embedding", k = 3, nProbe = 3)))
    assert(Ann.joinRestrictionSearches.get() === before + 1)
    assert(viaJoin === viaIsin)
    assert(viaIsin.nonEmpty)
  }

  test("join path: no isin partition filter, restriction rides a broadcast semi-join") {
    val q = emb(300).filter(col("vec_id") < 20)
    val df = Regime.forcing(spark, Regime.MaxProbeRows, 1L)(
      Ann.annSearchIndex(index, q, "vec_id", "embedding", k = 3, nProbe = 3))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("LeftSemi"), phys)
    assert(!phys.toLowerCase.contains("cartesianproduct"), phys)
  }

  test("pinned tiers: meta carries n_rows; the partitioned tier and the driver mirror are row-identical to the unpinned plan") {
    import graft.operators.Resident
    assert(index.nRows.contains(300L))
    val q = emb(300).filter(col("vec_id") < 10)
    // the serving tiers require the index to be PINNED; before pinning, the
    // same search keeps the parallel plan, the reference
    val cold = Ann.annSearchIndex(index, q, "vec_id", "embedding", k = 3, nProbe = 2)
    assert(cold.queryExecution.executedPlan.toString.contains("Exchange"),
      "cold (unpinned) search must keep the parallel plan")
    val coldRows = sortedRows(cold)
    val cold8Rows = sortedRows(
      Ann.annSearchIndexInt8(index, q, "vec_id", "embedding", k = 3, nProbe = 2))
    assert(coldRows.nonEmpty && cold8Rows.nonEmpty)
    index.cells.persist(); index.cells.count()
    /** Rows of `search` through the partitioned tier (the resident bound at
      * 0) and through the driver mirror, each checked to have served it.
      */
    def tiers(search: => DataFrame): (Seq[(Long, Long, Double, Int)], Seq[(Long, Long, Double, Int)]) = {
      val p0 = Resident.partitionedSearches.get()
      val viaTier = Regime.forcing(spark, Regime.DriverResidentRows, 0L)(sortedRows(search))
      assert(Resident.partitionedSearches.get() == p0 + 1, "the partitioned tier must serve")
      val r0 = Resident.residentSearches.get()
      val viaMirror = sortedRows(search)
      assert(Resident.residentSearches.get() == r0 + 1, "the driver mirror must serve")
      (viaTier, viaMirror)
    }
    try {
      val (tier, mirror) = tiers(Ann.annSearchIndex(index, q, "vec_id", "embedding", k = 3, nProbe = 2))
      assert(tier === coldRows)
      assert(mirror === coldRows)
      val (tier8, mirror8) =
        tiers(Ann.annSearchIndexInt8(index, q, "vec_id", "embedding", k = 3, nProbe = 2))
      assert(tier8 === cold8Rows)
      assert(mirror8 === cold8Rows)
    } finally index.cells.unpersist()
  }

  test("append: an empty batch is a committed no-op — no batch dir, open stays healthy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_empty_app").toString
    val (cells, cents) = Ann.annBuildIndex(emb(50), "vec_id", "embedding", nCentroids = 4)
    Ann.annWriteIndex(cells, cents, dir)
    val before = Ann.annOpenIndex(spark, dir).cells.count()
    assert(Ann.annAppendIndex(spark, dir,
      emb(10).filter(col("vec_id") < 0), "vec_id", "embedding", "empty1"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an empty partitioned parquet dir has no footers: had the batch dir
    // been written, every later open would die on schema inference
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/empty1")))
    assert(Ann.annOpenIndex(spark, dir).cells.count() === before)
  }

  test("append: frozen-centroid append == rebuild with the same centroids; atomic + idempotent") {
    val full = emb(400)
    val base = full.filter(col("vec_id") % 5 =!= 0)
    val held = full.filter(col("vec_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_app").toString
    val (cells, cents) = Ann.annBuildIndex(base, "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, dir)
    // rebuild-with-same-centroids reference: assign the FULL corpus to the
    // base index's centroids (refineRounds=0 keeps them frozen) and write a
    // separate one-shot index
    val refDir = java.nio.file.Files.createTempDirectory("graft_ann_ref").toString
    val baseIdx = Ann.annOpenIndex(spark, dir)
    val refAssign = graft.operators.SemanticJoin.knnJoinVec(
      full, "vec_id", "embedding",
      baseIdx.centroids, "centroid_id", "centroid_vec", k = 1, skipSizeCheck = true)
      .select(col("left_id").as("corpus_id"), col("right_id").as("__cell"))
    val refCells = full
      .select(col("vec_id").cast("long").as("corpus_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("cv"))
      .join(refAssign, "corpus_id")
    Ann.annWriteIndex(refCells, baseIdx.centroids, refDir)

    assert(Ann.annAppendIndex(spark, dir, held, "vec_id", "embedding", "b1"))
    // idempotent: a committed batchId is a no-op
    assert(!Ann.annAppendIndex(spark, dir, held, "vec_id", "embedding", "b1"))
    val appended = Ann.annOpenIndex(spark, dir)
    assert(appended.nRows.contains(400L) && appended.appendedRows == 80L)
    assert(math.abs(appended.appendStaleness - 0.2) < 1e-9)

    val q = full.filter(col("vec_id") < 25)
    val viaAppend = sortedRows(
      Ann.annSearchIndexInt8(appended, q, "vec_id", "embedding", k = 3, nProbe = 3))
    val viaRebuild = sortedRows(
      Ann.annSearchIndexInt8(Ann.annOpenIndex(spark, refDir), q, "vec_id", "embedding",
        k = 3, nProbe = 3))
    assert(viaAppend === viaRebuild && viaAppend.nonEmpty)
    // appended rows are actually retrievable: a held-out vector finds itself
    val selfQ = full.filter(col("vec_id") === 5)
    val self = Ann.annSearchIndex(appended, selfQ, "vec_id", "embedding", k = 1, nProbe = 8)
      .collect()
    assert(self.length == 1 && self.head.getAs[Long]("right_id") == 5L)

    // compact: base + committed batch rewritten as ONE layout with the same
    // centroids; searches are row-identical and the union fan-in is gone
    val compactDir = java.nio.file.Files.createTempDirectory("graft_ann_cmp").toString
    Ann.annCompactIndex(spark, dir, compactDir)
    val compacted = Ann.annOpenIndex(spark, compactDir)
    assert(compacted.appendedRows == 0L && compacted.nRows.contains(400L))
    assert(sortedRows(Ann.annSearchIndexInt8(compacted, q, "vec_id", "embedding",
      k = 3, nProbe = 3)) === viaAppend)

    // crash window: a batch dir WITHOUT the marker is invisible to open()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batches/b1/_COMMITTED"), false)
    val rolledBack = Ann.annOpenIndex(spark, dir)
    assert(rolledBack.nRows.contains(320L) && rolledBack.appendedRows == 0L)
    // retry after the "crash" rewrites and commits the same batchId
    assert(Ann.annAppendIndex(spark, dir, held, "vec_id", "embedding", "b1"))
    assert(Ann.annOpenIndex(spark, dir).nRows.contains(400L))
  }

  test("filtered view (r13): exhaustive probe ≡ brute force over allowed; disallowed never surface; int8/pq paths accept the view") {
    import graft.operators.SemanticJoin
    val e = emb(300)
    val allowed = e.filter(col("vec_id") % 3 === 0).select("vec_id")
    val view = Ann.annFilteredView(index, allowed, "vec_id")
    val q = e.filter(col("vec_id") < 8)
    // nProbe = all 8 cells → exact top-k over the allowed subset, same
    // kernel as the brute-force kNN join (bit-equal scores)
    val viaView = sortedRows(
      Ann.annSearchIndex(view, q, "vec_id", "embedding", k = 3, nProbe = 8))
    val brute = sortedRows(SemanticJoin.knnJoinVec(
      q, "vec_id", "embedding",
      e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      k = 3, skipSizeCheck = true))
    assert(viaView === brute)
    // selective probing still never leaks a disallowed id
    val lowProbe = Ann.annSearchIndex(view, q, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(_.getLong(1))
    assert(lowProbe.nonEmpty && lowProbe.forall(_ % 3 == 0))
    // the quantized path takes the same view unchanged
    val int8 = Ann.annSearchIndexInt8(view, q, "vec_id", "embedding", k = 3, nProbe = 8)
      .collect().map(_.getLong(1))
    assert(int8.nonEmpty && int8.forall(_ % 3 == 0))
  }

  test("stress leg: multiplied census equals base census at m x counts, through the join path") {
    val e = emb(60)
    val m = 4
    val big = Stress.annSearchSummary(index, e, "vec_id", "embedding", m = m, k = 3, nProbe = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // replica queries share their base vector -> same per-rank extrema, m x counts
    val base = Stress.annSearchSummary(index, e, "vec_id", "embedding", m = 1, k = 3, nProbe = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(big.map(_._1).toSeq === base.map(_._1).toSeq)
    assert(big.map(_._2).toSeq === base.map(_._2 * m).toSeq)
    assert(big.map(r => (r._3, r._4)).toSeq === base.map(r => (r._3, r._4)).toSeq)
  }
}
