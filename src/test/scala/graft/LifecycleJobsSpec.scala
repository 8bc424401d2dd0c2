package graft

import graft.operators.{Ann, Dedup, IndexMaintenance, Lexical}
import graft.operators.IndexMaintenance.genPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the index write path: a base write and a batch append
  * per family, a delete that finds its ids, one that finds none, a
  * compaction per family, and a maintenance pass over three roots where no
  * signal fires. The write path sets index_churn's `rows_per_s`, so a
  * refactor of the lifecycle must keep these counts.
  */
class LifecycleJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs(n: Long): DataFrame = docs(0L until n)

  private def docs(range: Seq[Long]): DataFrame = {
    import spark.implicits._
    range.map { i =>
      (i, s"doc$i alpha doc$i beta doc$i gamma word${i % 5} delta epsilon")
    }.toDF("doc_id", "text")
  }

  private def ids(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }

  private def vecs(range: Seq[Long]): DataFrame = {
    import spark.implicits._
    range.map(i => (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 7))))
      .toDF("vec_id", "embedding")
  }

  /** One committed gen-0 root per family. */
  private def roots(): (String, String, String) = {
    val mh = tmp("graft_jobs_mh")
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(docs(40), "doc_id", "text"),
      genPath(mh, 0))
    val bm = tmp("graft_jobs_bm25")
    val (p, st) = Lexical.bm25BuildIndex(docs(40), "doc_id", "text")
    Lexical.bm25WriteIndex(p, st, genPath(bm, 0), nBuckets = 8)
    val an = tmp("graft_jobs_ann")
    val (cells, cents) = Ann.annBuildIndex(vecs(0L until 40L), "vec_id", "embedding",
      nCentroids = 4)
    Ann.annWriteIndex(cells, cents, genPath(an, 0))
    Seq(mh, bm, an).foreach(IndexMaintenance.commitGeneration(spark, _, 0))
    (mh, bm, an)
  }

  private def jobs(f: => Any): Long = SpecJobs.count(spark)(f)

  test("writes: jobs of one base write per family") {
    val (cells, cents) = Ann.annBuildIndex(vecs(0L until 40L), "vec_id", "embedding",
      nCentroids = 4)
    val (p, st) = Lexical.bm25BuildIndex(docs(40), "doc_id", "text")
    val mhIndex = Dedup.minhashBuildIndex(docs(40), "doc_id", "text")
    val counts = Map(
      "bm25" -> jobs(Lexical.bm25WriteIndex(p, st, tmp("graft_jobs_w_bm25"), nBuckets = 8)),
      "ann" -> jobs(Ann.annWriteIndex(cells, cents, tmp("graft_jobs_w_ann"))),
      "minhash" -> jobs(Dedup.minhashWriteIndex(mhIndex, tmp("graft_jobs_w_mh"))))
    assert(counts == Map("bm25" -> 10L, "ann" -> 4L, "minhash" -> 3L), s"jobs were $counts")
  }

  /** Jobs of one 10-doc batch append to each gen-0 root. */
  private def appendJobs(mh: String, bm: String, an: String): Map[String, Long] = {
    val batch = 40L until 50L
    Map(
      "bm25" -> jobs(Lexical.bm25AppendIndex(spark, genPath(bm, 0), docs(batch),
        "doc_id", "text", "b1")),
      "ann" -> jobs(Ann.annAppendIndex(spark, genPath(an, 0), vecs(batch),
        "vec_id", "embedding", "b1")),
      "minhash" -> jobs(Dedup.minhashAppendIndex(spark, genPath(mh, 0), docs(batch),
        "doc_id", "text", "b1")))
  }

  test("appends: jobs of one 10-doc batch append per family") {
    val (mh, bm, an) = roots()
    val counts = appendJobs(mh, bm, an)
    assert(counts == Map("bm25" -> 5L, "ann" -> 4L, "minhash" -> 3L), s"jobs were $counts")
  }

  test("appends: a tombstoned root costs an append no more jobs than a clean one") {
    val clean = (appendJobs _).tupled(roots())
    val (mh, bm, an) = roots()
    val doomed = ids(Seq(4L, 5L))
    Lexical.bm25DeleteFromIndex(spark, genPath(bm, 0), doomed, "id", "d0")
    Ann.annDeleteFromIndex(spark, genPath(an, 0), doomed, "id", "d0")
    Dedup.minhashDeleteFromIndex(spark, genPath(mh, 0), doomed, "id", "d0")
    val tombstoned = appendJobs(mh, bm, an)
    assert(tombstoned.forall { case (f, n) => n <= clean(f) },
      s"tombstoned $tombstoned, clean $clean")
  }

  test("deletes: jobs of a found and a not-found delete per family") {
    val (mh, bm, an) = roots()
    val (m, b, a) = (genPath(mh, 0), genPath(bm, 0), genPath(an, 0))
    val found = ids(Seq(1L, 2L, 3L))
    val absent = ids(Seq(900L, 901L))
    val counts = Map(
      "bm25 found" -> jobs(Lexical.bm25DeleteFromIndex(spark, b, found, "id", "d0")),
      "bm25 absent" -> jobs(Lexical.bm25DeleteFromIndex(spark, b, absent, "id", "d1")),
      "ann found" -> jobs(Ann.annDeleteFromIndex(spark, a, found, "id", "d0")),
      "ann absent" -> jobs(Ann.annDeleteFromIndex(spark, a, absent, "id", "d1")),
      "minhash found" -> jobs(Dedup.minhashDeleteFromIndex(spark, m, found, "id", "d0")),
      "minhash absent" -> jobs(Dedup.minhashDeleteFromIndex(spark, m, absent, "id", "d1")))
    assert(counts == Map(
      "bm25 found" -> 3L, "bm25 absent" -> 4L,
      "ann found" -> 2L, "ann absent" -> 3L,
      "minhash found" -> 2L, "minhash absent" -> 3L), s"jobs were $counts")
  }

  test("compactions: jobs of one compaction per family over a tombstoned generation") {
    val (mh, bm, an) = roots()
    val (m, b, a) = (genPath(mh, 0), genPath(bm, 0), genPath(an, 0))
    val doomed = ids(Seq(4L, 5L))
    Lexical.bm25DeleteFromIndex(spark, b, doomed, "id", "d0")
    Ann.annDeleteFromIndex(spark, a, doomed, "id", "d0")
    Dedup.minhashDeleteFromIndex(spark, m, doomed, "id", "d0")
    val counts = Map(
      "bm25" -> jobs(Lexical.bm25CompactIndex(spark, b, genPath(bm, 1))),
      "ann" -> jobs(Ann.annCompactIndex(spark, a, genPath(an, 1))),
      "minhash" -> jobs(Dedup.minhashCompactIndex(spark, m, genPath(mh, 1))))
    assert(counts == Map("bm25" -> 7L, "ann" -> 4L, "minhash" -> 4L),
      s"jobs were $counts")
  }

  test("maintenance: jobs of a pass over three roots where nothing fires") {
    val (mh, bm, an) = roots()
    val (evs, js) = SpecJobs.of(spark)(IndexMaintenance.maintainIndexes(spark,
      minhashRoot = Some(mh), bm25Root = Some(bm), annRoot = Some(an)))
    assert(evs.map(_.action) == Seq("none", "none", "none"))
    assert(js.size == 3, s"jobs were ${js.size}")
  }

  test("maintenance: jobs of one firing pass per family over a tombstoned generation") {
    val (mh, bm, an) = roots()
    val doomed = ids(Seq(4L, 5L))
    Lexical.bm25DeleteFromIndex(spark, genPath(bm, 0), doomed, "id", "d0")
    Ann.annDeleteFromIndex(spark, genPath(an, 0), doomed, "id", "d0")
    Dedup.minhashDeleteFromIndex(spark, genPath(mh, 0), doomed, "id", "d0")
    // every deleteFraction signal fires; the compaction reuses the open
    // index the pass read the signal from
    val fire = IndexMaintenance.Policy(maxDeleteFraction = 0.0)
    def pass(run: => Seq[IndexMaintenance.Event]): Long = {
      val (evs, js) = SpecJobs.of(spark)(run)
      assert(evs.map(e => (e.signal, e.action)) == Seq(("deleteFraction", "compact")))
      js.size.toLong
    }
    val counts = Map(
      "bm25" -> pass(IndexMaintenance.maintainIndexes(spark, bm25Root = Some(bm), policy = fire)),
      "ann" -> pass(IndexMaintenance.maintainIndexes(spark, annRoot = Some(an), policy = fire)),
      "minhash" -> pass(IndexMaintenance.maintainIndexes(spark, minhashRoot = Some(mh), policy = fire)))
    assert(counts == Map("bm25" -> 8L, "ann" -> 5L, "minhash" -> 5L), s"jobs were $counts")
  }
}
