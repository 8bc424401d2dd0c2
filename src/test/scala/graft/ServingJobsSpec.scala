package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving job budget: a steady-state search
  * through each pinned persisted index over the resident bound must cost at
  * most ONE Spark job — the wall of a sub-100ms search is jobs × scheduler
  * round-trip. The partitioned tier stays at one because:
  *
  *  - no collect job on the query side (pre-Generate projections fold to a
  *    LocalRelation, whose executeCollect is driver-local; a MinHash batch
  *    that folds is collected without a job);
  *  - the per-partition folds run as one job of one stage, when the search
  *    is called, and the driver merges their output into a LocalRelation,
  *    whose count is answered on the driver (`CountLocalRelation`), so an
  *    action adds no job.
  *
  * The census counts the jobs a warm search starts, exactly, through
  * [[SpecJobs]]. A regression in any of the structural properties above
  * shows up here as a second job.
  */
class ServingJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs triggered by `search` at steady state (after one warm run). */
  private def jobsFor(search: () => Long): Long = {
    search() // warm: codegen + any open-time work
    SpecJobs.count(spark)(search())
  }

  private def localDocs(n: Int, from: Int = 0): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rows = (from until from + n).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        s"shared alpha beta gamma delta epsilon zeta eta theta token$i doc body")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
  }

  private def localVecs(n: Int, from: Int = 0, dim: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    val rows = (from until from + n).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        (0 until dim).map(d => math.sin(i * 13 + d * 7)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
  }

  test("serving: one job per search for ann, int8, bm25, minhash") {
    // this budget pins the partitioned tier (a pinned index over the
    // driver-resident bound) — run with residency disabled; the resident
    // tier's ZERO-job budget is ResidentSpec's
    graft.operators.Regime.forcing(spark, graft.operators.Regime.DriverResidentRows, 0L)(
      partitionedBudgets())
  }

  private def partitionedBudgets(): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_serving_jobs").toString

    // ANN index (float + int8 share the layout)
    val (cells, cents) =
      graft.operators.Ann.annBuildIndex(localVecs(200), "vec_id", "embedding", nCentroids = 4)
    graft.operators.Ann.annWriteIndex(cells, cents, s"$tmp/ann")
    val ann0 = graft.operators.Ann.annOpenIndex(spark, s"$tmp/ann")
    val ann = ann0.copy(cells = ann0.cells.coalesce(1))
    ann.cells.persist(); ann.cells.count()
    val vq = localVecs(5, from = 500)
    val annJobs = jobsFor(() =>
      graft.operators.Ann.annSearchIndex(ann, vq, "vec_id", "embedding",
        k = 3, nProbe = 2).count())
    assert(annJobs <= 1, s"float ANN search ran $annJobs jobs, budget is 1")
    val int8Jobs = jobsFor(() =>
      graft.operators.Ann.annSearchIndexInt8(ann, vq, "vec_id", "embedding",
        k = 3, nProbe = 2).count())
    assert(int8Jobs <= 1, s"int8 ANN search ran $int8Jobs jobs, budget is 1")

    // BM25 index
    val (posts, stats) = graft.operators.Lexical.bm25BuildIndex(localDocs(200), "id", "text")
    graft.operators.Lexical.bm25WriteIndex(posts, stats, s"$tmp/bm25", nBuckets = 8)
    val bm250 = graft.operators.Lexical.bm25OpenIndex(spark, s"$tmp/bm25")
    val bm25 = bm250.copy(postings = bm250.postings.coalesce(1))
    bm25.postings.persist(); bm25.postings.count()
    val dq = localDocs(5, from = 500)
    val bm25Jobs = jobsFor(() =>
      graft.operators.Lexical.bm25SearchIndex(bm25, dq, "id", "text", k = 3).count())
    assert(bm25Jobs <= 1, s"bm25 search ran $bm25Jobs jobs, budget is 1")

    // MinHash index
    graft.operators.Dedup.minhashWriteIndex(
      graft.operators.Dedup.minhashBuildIndex(localDocs(200), "id", "text"), s"$tmp/mh")
    val mh0 = graft.operators.Dedup.minhashOpenIndex(spark, s"$tmp/mh")
    val mh = mh0.copy(postings = mh0.postings.coalesce(1),
      shingles = mh0.shingles.coalesce(1))
    mh.postings.persist(); mh.postings.count()
    mh.shingles.persist(); mh.shingles.count()
    val mq = localDocs(5) // overlaps the corpus: matches exist
    val mhJobs = jobsFor(() =>
      graft.operators.Dedup.minhashSearchIndex(mh, mq, "id", "text",
        jaccardThreshold = 0.5).count())
    assert(mhJobs <= 1, s"minhash search ran $mhJobs jobs, budget is 1")

    // sanity: the searches actually found rows (the budget must not be met
    // by returning nothing)
    assert(graft.operators.Dedup.minhashSearchIndex(mh, mq, "id", "text",
      jaccardThreshold = 0.5).count() > 0)
    assert(graft.operators.Ann.annSearchIndex(ann, vq, "vec_id", "embedding",
      k = 3, nProbe = 2).count() > 0)
    assert(graft.operators.Lexical.bm25SearchIndex(bm25, dq, "id", "text", k = 3)
      .count() > 0)
  }
}
