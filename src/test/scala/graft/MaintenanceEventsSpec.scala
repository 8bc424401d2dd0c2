package graft

import graft.operators.{Ann, Dedup, IndexMaintenance, Lexical}
import graft.operators.IndexMaintenance.{Event, Policy, currentPath, genPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The maintenance pass's decision table, pinned event by event: for each
  * index family one pass where nothing fires, then one pass per signal,
  * each asserting the exact `(family, signal, value, threshold, action,
  * genBefore, genAfter)` it logs. Values are exact ratios of row counts the
  * fixtures fix (MinHash writes `numBands` = 8 posting rows per document,
  * the BM25 documents hold 7 distinct terms each, ANN one cell row per
  * vector).
  */
class MaintenanceEventsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private type Pinned = (String, String, Double, Double, String, Int, Int)

  private def pinned(e: Event): Pinned =
    (e.index, e.signal, e.value, e.threshold, e.action, e.genBefore, e.genAfter)

  /** One row of the table: what lands on the current generation before the
    * pass, the pass's policy, and the one event it must log.
    */
  private final case class Pass(
      name: String, before: String => Unit, policy: Policy, expect: Pinned)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Seven distinct terms per document: `tag` and six shared words. */
  private def docs(ids: Seq[Long], tag: String): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val t = s"$tag$i"
      (i, s"$t alpha $t beta $t gamma $t delta $t epsilon $t zeta")
    }.toDF("doc_id", "text")
  }

  private def ids(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }

  private def vecs(ids: Seq[Long], shift: Double): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 7) + shift)))
      .toDF("vec_id", "embedding")
  }

  private val nothing: String => Unit = _ => ()

  private def runTable(root: String, passes: Seq[Pass])(
      maintain: Policy => Seq[Event]): Unit =
    passes.foreach { p =>
      p.before(currentPath(spark, root))
      val got = maintain(p.policy).map(pinned)
      assert(got == Seq(p.expect), s"${p.name}: got $got")
    }

  test("minhash: none, unionFanIn and deleteFraction events are pinned exactly") {
    val root = tmp("graft_events_mh")
    Dedup.minhashWriteIndex(
      Dedup.minhashBuildIndex(docs(0L until 20L, "base"), "doc_id", "text"), genPath(root, 0))
    IndexMaintenance.commitGeneration(spark, root, 0)
    runTable(root, Seq(
      Pass("none", nothing, Policy(),
        ("minhash", "unionFanIn", 1.0, 8.0, "none", 0, 0)),
      Pass("unionFanIn",
        p => Dedup.minhashAppendIndex(spark, p, docs(100L until 104L, "new"),
          "doc_id", "text", "b0"),
        Policy(minhashMaxFanIn = 1),
        ("minhash", "unionFanIn", 2.0, 1.0, "compact", 0, 1)),
      // 5 of 24 documents deleted: 40 of 192 posting rows
      Pass("deleteFraction",
        p => Dedup.minhashDeleteFromIndex(spark, p, ids(Seq(1L, 3L, 5L, 7L, 101L)),
          "id", "d0"),
        Policy(maxDeleteFraction = 0.1),
        ("minhash", "deleteFraction", 40.0 / 192, 0.1, "compact", 1, 2))
    ))(policy => IndexMaintenance.maintainIndexes(spark, minhashRoot = Some(root),
      policy = policy))
  }

  test("bm25: none, appendFraction and deleteFraction events are pinned exactly") {
    val root = tmp("graft_events_bm25")
    val (p0, st0) = Lexical.bm25BuildIndex(docs(0L until 20L, "base"), "doc_id", "text")
    Lexical.bm25WriteIndex(p0, st0, genPath(root, 0), nBuckets = 8)
    IndexMaintenance.commitGeneration(spark, root, 0)
    runTable(root, Seq(
      Pass("none", nothing, Policy(),
        ("bm25", "appendFraction", 0.0, 0.25, "none", 0, 0)),
      // 10 appended documents: 70 of 210 postings
      Pass("appendFraction",
        p => Lexical.bm25AppendIndex(spark, p, docs(100L until 110L, "new"),
          "doc_id", "text", "b0"),
        Policy(),
        ("bm25", "appendFraction", 70.0 / 210, 0.25, "compact", 0, 1)),
      // 3 of 30 documents deleted: 21 of 210 postings
      Pass("deleteFraction",
        p => Lexical.bm25DeleteFromIndex(spark, p, ids(Seq(2L, 4L, 105L)), "id", "d0"),
        Policy(maxDeleteFraction = 0.05),
        ("bm25", "deleteFraction", 21.0 / 210, 0.05, "compact", 1, 2))
    ))(policy => IndexMaintenance.maintainIndexes(spark, bm25Root = Some(root),
      policy = policy))
  }

  test("ann: none, appendFraction, stalenessSinceRefit and deleteFraction events are pinned exactly") {
    val root = tmp("graft_events_ann")
    val (cells, cents) = Ann.annBuildIndex(vecs(0L until 40L, 0.0), "vec_id", "embedding",
      nCentroids = 4)
    Ann.annWriteIndex(cells, cents, genPath(root, 0))
    IndexMaintenance.commitGeneration(spark, root, 0)
    runTable(root, Seq(
      Pass("none", nothing, Policy(),
        ("ann", "appendFraction", 0.0, 0.25, "none", 0, 0)),
      // 40 appended vectors: half the corpus; the refit watermark stays 40
      Pass("appendFraction",
        p => Ann.annAppendIndex(spark, p, vecs(1000L until 1040L, 0.5),
          "vec_id", "embedding", "b0"),
        Policy(annRefitStaleness = 0.6),
        ("ann", "appendFraction", 0.5, 0.25, "compact", 0, 1)),
      // the compaction carried rows_at_refit = 40 of 80
      Pass("stalenessSinceRefit", nothing,
        Policy(annRefitStaleness = 0.4),
        ("ann", "stalenessSinceRefit", 0.5, 0.4, "refit", 1, 2)),
      // 8 of 80 vectors deleted
      Pass("deleteFraction",
        p => Ann.annDeleteFromIndex(spark, p, ids((0L until 4L) ++ (1000L until 1004L)),
          "id", "d0"),
        Policy(maxDeleteFraction = 0.05),
        ("ann", "deleteFraction", 8.0 / 80, 0.05, "compact", 2, 3))
    ))(policy => IndexMaintenance.maintainIndexes(spark, annRoot = Some(root),
      policy = policy))
  }
}
