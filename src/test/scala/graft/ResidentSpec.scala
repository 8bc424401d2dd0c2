package graft

import graft.operators.{Regime, Resident}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-resident serving: every resident path must be
  * bit-identical to the distributed plan it replaces and to the partitioned
  * tier (same rows, same score DOUBLES by bit pattern), fire only under the
  * gate (pinned + bounded), and cost ZERO Spark jobs per search.
  */
class ResidentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(n: Int, from: Int = 0): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rows = (from until from + n).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        s"shared alpha beta gamma delta epsilon zeta eta theta token$i doc body word${i % 7}")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
  }

  private def vecs(n: Int, from: Int = 0, dim: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    val rows = (from until from + n).map { i =>
      org.apache.spark.sql.Row(i.toLong, (0 until dim).map(d => math.sin(i * 13 + d * 7)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
  }

  /** Rows with doubles rendered as exact bit patterns — a string-set equal
    * here means bit-identical scores, not approximately-equal ones.
    */
  private def bits(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case x => String.valueOf(x)
    }.mkString("|")).toSet

  /** Run `f` with residency disabled (bound 0 → gate always false): a
    * pinned index serves from the partitioned tier.
    */
  private def withoutResidency[A](f: => A): A =
    Regime.forcing(spark, Regime.DriverResidentRows, 0L)(f)

  private def residentDelta[A](f: => A): (A, Long) = {
    val before = Resident.residentSearches.get()
    val a = f
    (a, Resident.residentSearches.get() - before)
  }

  test("bm25 resident search: bit-identical to the plan (baked, unbaked params, appended)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_resident_bm").toString
    val (p, st) = graft.operators.Lexical.bm25BuildIndex(docs(150), "id", "text")
    graft.operators.Lexical.bm25WriteIndex(p, st, tmp, nBuckets = 8)
    val idx0 = graft.operators.Lexical.bm25OpenIndex(spark, tmp)
    val idx = idx0.copy(postings = idx0.postings.coalesce(1))
    idx.postings.persist(); idx.postings.count()
    val q = docs(6, from = 300)
    // baked params (k1=1.2, b=0.75): contrib0 short-circuit on both sides
    val (viaRes, d1) = residentDelta(bits(
      graft.operators.Lexical.bm25SearchIndex(idx, q, "id", "text", k = 4)))
    assert(d1 == 1, "resident path must fire on the pinned bounded index")
    val viaPlan = withoutResidency(bits(
      graft.operators.Lexical.bm25SearchIndex(idx, q, "id", "text", k = 4)))
    assert(viaRes == viaPlan, "baked-path scores diverged")
    assert(viaRes.nonEmpty)
    // non-default params: the bake mismatches → recompute path both sides
    val (viaRes2, d2) = residentDelta(bits(graft.operators.Lexical
      .bm25SearchIndex(idx, q, "id", "text", k = 4, k1 = 0.9, b = 0.4)))
    assert(d2 == 1)
    val viaPlan2 = withoutResidency(bits(graft.operators.Lexical
      .bm25SearchIndex(idx, q, "id", "text", k = 4, k1 = 0.9, b = 0.4)))
    assert(viaRes2 == viaPlan2, "recompute-path scores diverged")
    // appended index (no bake, union postings): resident mirror still exact
    graft.operators.Lexical.bm25AppendIndex(spark, tmp, docs(30, from = 1000),
      "id", "text", "rb1")
    val app0 = graft.operators.Lexical.bm25OpenIndex(spark, tmp)
    val app = app0.copy(postings = app0.postings.coalesce(1))
    app.postings.persist(); app.postings.count()
    val qa = docs(6, from = 1000) // hits appended docs
    val (viaRes3, d3) = residentDelta(bits(
      graft.operators.Lexical.bm25SearchIndex(app, qa, "id", "text", k = 4)))
    assert(d3 == 1)
    val viaPlan3 = withoutResidency(bits(
      graft.operators.Lexical.bm25SearchIndex(app, qa, "id", "text", k = 4)))
    assert(viaRes3 == viaPlan3, "appended-index scores diverged")
    assert(viaRes3.nonEmpty)
  }

  test("minhash resident search: row-identical to the partitioned tier and the unpinned plan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_resident_mh").toString
    graft.operators.Dedup.minhashWriteIndex(
      graft.operators.Dedup.minhashBuildIndex(docs(150), "id", "text"), tmp)
    val idx0 = graft.operators.Dedup.minhashOpenIndex(spark, tmp)
    val idx = idx0.copy(postings = idx0.postings.coalesce(1),
      shingles = idx0.shingles.coalesce(1))
    idx.postings.persist(); idx.postings.count()
    idx.shingles.persist(); idx.shingles.count()
    val q = docs(8) // overlaps the corpus → self-matches at J=1 + near-dups
    val (viaRes, d) = residentDelta(bits(graft.operators.Dedup
      .minhashSearchIndex(idx, q, "id", "text", jaccardThreshold = 0.4)))
    assert(d == 1)
    val p0 = Resident.partitionedSearches.get()
    val viaTier = withoutResidency(bits(graft.operators.Dedup
      .minhashSearchIndex(idx, q, "id", "text", jaccardThreshold = 0.4)))
    assert(Resident.partitionedSearches.get() == p0 + 1)
    assert(viaRes == viaTier, "resident minhash diverged from the partitioned tier")
    // the parallel plan (idx0's frames are not the pinned ones) agrees too
    val viaParallel = bits(graft.operators.Dedup
      .minhashSearchIndex(idx0, q, "id", "text", jaccardThreshold = 0.4))
    assert(viaRes == viaParallel, "resident minhash diverged from the parallel plan")
    assert(viaRes.nonEmpty)
  }

  test("ann resident float + int8: bit-identical to the plan paths") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_resident_ann").toString
    val (cells, cents) =
      graft.operators.Ann.annBuildIndex(vecs(200), "vec_id", "embedding", nCentroids = 4)
    graft.operators.Ann.annWriteIndex(cells, cents, tmp)
    val idx0 = graft.operators.Ann.annOpenIndex(spark, tmp)
    val idx = idx0.copy(cells = idx0.cells.coalesce(1))
    idx.cells.persist(); idx.cells.count()
    val q = vecs(7, from = 500)
    val (fRes, d1) = residentDelta(bits(graft.operators.Ann
      .annSearchIndex(idx, q, "vec_id", "embedding", k = 3, nProbe = 2)))
    assert(d1 == 1)
    val fTier = withoutResidency(bits(graft.operators.Ann
      .annSearchIndex(idx, q, "vec_id", "embedding", k = 3, nProbe = 2)))
    assert(fRes == fTier, "resident float ANN diverged from the partitioned tier")
    assert(fRes == bits(graft.operators.Ann
      .annSearchIndex(idx0, q, "vec_id", "embedding", k = 3, nProbe = 2)),
      "resident float ANN diverged from the plan")
    assert(fRes.nonEmpty)
    val (iRes, d2) = residentDelta(bits(graft.operators.Ann
      .annSearchIndexInt8(idx, q, "vec_id", "embedding", k = 3, nProbe = 2)))
    assert(d2 == 1)
    val iTier = withoutResidency(bits(graft.operators.Ann
      .annSearchIndexInt8(idx, q, "vec_id", "embedding", k = 3, nProbe = 2)))
    assert(iRes == iTier, "resident int8 ANN diverged from the partitioned tier")
    assert(iRes == bits(graft.operators.Ann
      .annSearchIndexInt8(idx0, q, "vec_id", "embedding", k = 3, nProbe = 2)),
      "resident int8 ANN diverged from the plan")
    assert(iRes.nonEmpty)
  }

  test("ann resident PQ: bit-identical to the ADC+rerank plan; zero jobs when pinned") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_resident_pq").toString
    val (cells, cents) =
      graft.operators.Ann.annBuildIndex(vecs(200), "vec_id", "embedding", nCentroids = 4)
    graft.operators.Ann.annWriteIndex(cells, cents, tmp, pqM = 4)
    val idx0 = graft.operators.Ann.annOpenIndex(spark, tmp)
    // gate: unpinned stays on the plan
    val before = Resident.residentSearches.get()
    val q = vecs(7, from = 500).localCheckpoint(true)
    graft.operators.Ann.annSearchIndexPq(idx0, q, "vec_id", "embedding",
      k = 3, nProbe = 2).collect()
    assert(Resident.residentSearches.get() == before,
      "resident PQ fired on an unpinned index")
    val idx = idx0.copy(cells = idx0.cells.coalesce(1))
    idx.cells.persist(); idx.cells.count()
    val (viaRes, d) = residentDelta(bits(graft.operators.Ann
      .annSearchIndexPq(idx, q, "vec_id", "embedding", k = 3, nProbe = 2)))
    assert(d == 1, "resident PQ path must fire on the pinned bounded index")
    val viaTier = withoutResidency(bits(graft.operators.Ann
      .annSearchIndexPq(idx, q, "vec_id", "embedding", k = 3, nProbe = 2)))
    assert(viaRes == viaTier, "resident PQ diverged from the partitioned tier")
    assert(viaRes == bits(graft.operators.Ann
      .annSearchIndexPq(idx0, q, "vec_id", "embedding", k = 3, nProbe = 2)),
      "resident PQ diverged from the ADC+rerank plan")
    assert(viaRes.nonEmpty)
    // and with a non-default rerankFactor (tighter coarse pool)
    val (viaRes2, d2) = residentDelta(bits(graft.operators.Ann
      .annSearchIndexPq(idx, q, "vec_id", "embedding", k = 3, nProbe = 2,
        rerankFactor = 2)))
    assert(d2 == 1)
    val viaTier2 = withoutResidency(bits(graft.operators.Ann
      .annSearchIndexPq(idx, q, "vec_id", "embedding", k = 3, nProbe = 2,
        rerankFactor = 2)))
    assert(viaRes2 == viaTier2, "resident PQ (rerankFactor=2) diverged")
    assert(viaRes2 == bits(graft.operators.Ann
      .annSearchIndexPq(idx0, q, "vec_id", "embedding", k = 3, nProbe = 2, rerankFactor = 2)),
      "resident PQ (rerankFactor=2) diverged from the plan")
    idx.cells.unpersist()
  }

  test("resident searches cost zero Spark jobs; gate refuses unpinned indexes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_resident_jobs").toString
    val (p, st) = graft.operators.Lexical.bm25BuildIndex(docs(150), "id", "text")
    graft.operators.Lexical.bm25WriteIndex(p, st, tmp, nBuckets = 8)
    val idx0 = graft.operators.Lexical.bm25OpenIndex(spark, tmp)
    // gate: UNPINNED index (a cold batch read) must NOT go resident
    val before = Resident.residentSearches.get()
    graft.operators.Lexical.bm25SearchIndex(idx0, docs(3, from = 300),
      "id", "text", k = 3).collect()
    assert(Resident.residentSearches.get() == before,
      "resident path fired on an unpinned index")
    // pinned: resident fires, and a warm search is ZERO jobs end to end
    // (collect() on a LocalRelation result is a driver-local executeCollect)
    val idx = idx0.copy(postings = idx0.postings.coalesce(1))
    idx.postings.persist(); idx.postings.count()
    val q = docs(3, from = 300)
    graft.operators.Lexical.bm25SearchIndex(idx, q, "id", "text", k = 3).collect() // warm
    val (n, jobs) = SpecJobs.of(spark)(graft.operators.Lexical
      .bm25SearchIndex(idx, q, "id", "text", k = 3).collect().length)
    assert(n > 0)
    assert(jobs.isEmpty, s"resident bm25 search ran ${jobs.size} jobs, expected 0")
  }

  test("a driver-mirror search's count() runs no job: bm25 and ann") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_resident_count").toString
    val (p, st) = graft.operators.Lexical.bm25BuildIndex(docs(150), "id", "text")
    graft.operators.Lexical.bm25WriteIndex(p, st, s"$tmp/bm25", nBuckets = 8)
    val bm0 = graft.operators.Lexical.bm25OpenIndex(spark, s"$tmp/bm25")
    val bm = bm0.copy(postings = bm0.postings.coalesce(1))
    bm.postings.persist(); bm.postings.count()
    val (cells, cents) =
      graft.operators.Ann.annBuildIndex(vecs(200), "vec_id", "embedding", nCentroids = 4)
    graft.operators.Ann.annWriteIndex(cells, cents, s"$tmp/ann")
    val ann0 = graft.operators.Ann.annOpenIndex(spark, s"$tmp/ann")
    val ann = ann0.copy(cells = ann0.cells.coalesce(1))
    ann.cells.persist(); ann.cells.count()
    try {
      def bmSearch = graft.operators.Lexical.bm25SearchIndex(bm, docs(3, from = 300), "id", "text", k = 3)
      def annSearch = graft.operators.Ann.annSearchIndex(ann, vecs(4, from = 500), "vec_id",
        "embedding", k = 3, nProbe = 2)
      Seq("bm25" -> (() => bmSearch), "ann" -> (() => annSearch)).foreach { case (label, search) =>
        val rows = search().collect().length.toLong // warm: builds the mirror
        val ((n, served), jobs) = SpecJobs.of(spark)(residentDelta(search().count()))
        assert(served == 1, s"$label: the driver mirror must serve")
        assert(n == rows && n > 0)
        assert(jobs.isEmpty, s"$label: a resident search's count() ran ${jobs.size} jobs, expected 0")
      }
    } finally { bm.postings.unpersist(); ann.cells.unpersist() }
  }
}
