package graft

import graft.operators.{Lexical, Regime}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The BM25 append contract ([[Lexical.bm25AppendIndex]]): unlike the ANN
  * append's frozen-centroid recall trade, a BM25 append is score-EXACT —
  * merged corpus stats are integer-sum arithmetic and df is recomputed
  * in-plan from the pruned union scan — so search-via-append must equal
  * search-via-full-rebuild BIT-FOR-BIT, in every scoring regime (batch-fold,
  * joined over-bound guard, custom k1/b), plus the family's shared
  * durability contract (atomic `_COMMITTED` batches, idempotent retry,
  * crash-window invisibility, empty/blank-batch degeneracy, non-in-place
  * compact).
  */
class Bm25AppendSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Deterministic multi-term docs over a small vocabulary so query terms
    * hit many documents (df > 1 everywhere — the stats that must merge).
    */
  private def docs(ids: Range): DataFrame = {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    ids.map { i =>
      // shared-vocab words (df > 1 — the stats that must merge) plus one
      // unique token per doc (df = 1, and it makes self-retrieval exact)
      val words = (0 until (3 + i % 5)).map(j => vocab((i * 3 + j * 2) % vocab.size))
      (i.toLong, (words :+ s"id$i").mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def build(d: DataFrame, dir: String): Unit = {
    val (postings, stats) = Lexical.bm25BuildIndex(d, "doc_id", "text")
    Lexical.bm25WriteIndex(postings, stats, dir, nBuckets = 8)
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  private def search(idx: Lexical.Bm25Index, q: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Long, Long, Double)] =
    rows(Lexical.bm25SearchIndex(idx, q, "doc_id", "text", k = 3, k1 = k1, b = b))

  test("append == full rebuild bit-for-bit; atomic, idempotent, crash-invisible") {
    val full = docs(0 until 120)
    val base = full.filter(col("doc_id") % 4 =!= 1)
    val held = full.filter(col("doc_id") % 4 === 1)
    val appDir = tmp("graft_bm25_app_spec")
    val refDir = tmp("graft_bm25_ref_spec")
    build(base, appDir)
    build(full, refDir)

    assert(Lexical.bm25AppendIndex(spark, appDir, held, "doc_id", "text", "b1"))
    // idempotent: a committed batchId is a no-op
    assert(!Lexical.bm25AppendIndex(spark, appDir, held, "doc_id", "text", "b1"))

    val appended = Lexical.bm25OpenIndex(spark, appDir)
    val rebuilt = Lexical.bm25OpenIndex(spark, refDir)
    // stale bake is dropped wholesale: stats merge from metas, search recomputes
    assert(appended.bakedParams.isEmpty && appended.appendedPostings > 0)
    assert(appended.appendFraction > 0.0 && appended.appendFraction < 1.0)
    assert(!appended.postings.columns.contains("df") &&
      !appended.postings.columns.contains("contrib0"))
    // merged one-row stats equal the rebuild's aggregate exactly (integer dl
    // sums are order-independent in double arithmetic)
    val Seq(sa, sr) = Seq(appended, rebuilt).map(_.statsRow)
    assert(sa === sr)
    assert(appended.nRows === rebuilt.nRows)

    val q = full.filter(col("doc_id") < 6)
    val viaAppend = search(appended, q)
    assert(viaAppend === search(rebuilt, q) && viaAppend.nonEmpty)
    // appended docs are actually retrievable: a held-out doc finds itself
    val selfHit = Lexical.bm25SearchIndex(
      appended, full.filter(col("doc_id") === 5), "doc_id", "text", k = 1)
      .collect()
    assert(selfHit.length == 1 && selfHit.head.getAs[Long]("doc_id") == 5L)
    // custom (k1, b): the recompute path must agree at non-baked params too
    assert(search(appended, q, k1 = 0.9, b = 0.4) ===
      search(rebuilt, q, k1 = 0.9, b = 0.4))
    // over-bound guard regime (joined scoring form) on the appended index:
    // row-identical to the batch-fold regime
    val before = Lexical.joinRestrictionSearches.get()
    Regime.forcing(spark, Regime.MaxQueryTermRows, 1L) {
      assert(search(appended, q) === viaAppend)
      assert(Lexical.joinRestrictionSearches.get() === before + 1)
    }

    // compact: one fresh layout, re-baked, row-identical, further appends OK
    val cmpDir = tmp("graft_bm25_cmp_spec")
    Lexical.bm25CompactIndex(spark, appDir, cmpDir)
    val compacted = Lexical.bm25OpenIndex(spark, cmpDir)
    assert(compacted.appendedPostings == 0L && compacted.bakedParams.nonEmpty)
    assert(compacted.postings.columns.contains("df") &&
      compacted.postings.columns.contains("contrib0"))
    assert(compacted.nRows === rebuilt.nRows && compacted.statsRow === sr)
    assert(search(compacted, q) === viaAppend)
    // a compacted layout accepts further appends (its meta carries the
    // exact-merge fields), and the new doc is retrievable
    assert(Lexical.bm25AppendIndex(spark, cmpDir, docs(200 until 203),
      "doc_id", "text", "b2"))
    val recompacted = Lexical.bm25OpenIndex(spark, cmpDir)
    val hit2 = Lexical.bm25SearchIndex(
      recompacted, docs(200 until 201), "doc_id", "text", k = 1).collect()
    assert(hit2.length == 1 && hit2.head.getAs[Long]("doc_id") == 200L)
    intercept[IllegalArgumentException] {
      Lexical.bm25CompactIndex(spark, cmpDir, cmpDir)
    }

    // crash window: a batch dir WITHOUT the marker is invisible to open()
    val fs = new org.apache.hadoop.fs.Path(appDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$appDir/batches/b1/_COMMITTED"), false)
    val rolledBack = Lexical.bm25OpenIndex(spark, appDir)
    assert(rolledBack.appendedPostings == 0L && rolledBack.bakedParams.nonEmpty)
    // retry after the "crash" rewrites and commits the same batchId
    assert(Lexical.bm25AppendIndex(spark, appDir, held, "doc_id", "text", "b1"))
    assert(search(Lexical.bm25OpenIndex(spark, appDir), q) === viaAppend)
  }

  test("degenerate batches: empty is a dirless no-op; all-blank moves stats but writes no postings") {
    val dir = tmp("graft_bm25_blank_spec")
    build(docs(0 until 40), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // zero docs: committed no-op with NO batch dir
    assert(Lexical.bm25AppendIndex(spark, dir,
      docs(0 until 10).filter(col("doc_id") < 0), "doc_id", "text", "e1"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/e1")))

    // docs with zero tokens: n_docs and avgdl must move (a rebuild counts
    // them), but no postings dir may be written (an empty partitioned
    // parquet dir has no footers and corrupts later opens)
    import spark.implicits._
    val blanks = Seq((900L, ""), (901L, "   ")).toDF("doc_id", "text")
    assert(Lexical.bm25AppendIndex(spark, dir, blanks, "doc_id", "text", "blank1"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/blank1/_COMMITTED")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/blank1/postings")))
    val idx = Lexical.bm25OpenIndex(spark, dir)
    val refDir = tmp("graft_bm25_blank_ref")
    build(docs(0 until 40).unionByName(blanks), refDir)
    val ref = Lexical.bm25OpenIndex(spark, refDir)
    assert(idx.statsRow === ref.statsRow)
    val q = docs(0 until 3)
    assert(search(idx, q) === search(ref, q) && search(idx, q).nonEmpty)
  }

  test("randomized: append == rebuild bit-for-bit across seeds, splits, params") {
    import spark.implicits._
    // seeded random corpora with the nasty shapes: empty docs, duplicate
    // texts, skewed doc lengths, df from 1 to near-n — and random
    // base/held splits, so the exact-stats merge and the in-plan df
    // recompute are exercised far off the deterministic spec's happy path
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff", "g", "hh", "iii", "jj", "k", "lll")
    for (seed <- Seq(11L, 42L, 99L)) {
      val rnd = new java.util.Random(seed)
      val docs = (0 until 80).map { i =>
        val n = rnd.nextInt(11) // 0..10 tokens; 0 = empty doc
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val cut = 2 + rnd.nextInt(5)
      val base = docs.filter(col("doc_id") % cut =!= 0)
      val held = docs.filter(col("doc_id") % cut === 0)
      val appDir = tmp(s"graft_bm25_prop_app_$seed")
      val refDir = tmp(s"graft_bm25_prop_ref_$seed")
      build(base, appDir)
      build(docs, refDir)
      assert(Lexical.bm25AppendIndex(spark, appDir, held, "doc_id", "text", "b"))
      val appended = Lexical.bm25OpenIndex(spark, appDir)
      val rebuilt = Lexical.bm25OpenIndex(spark, refDir)
      assert(appended.statsRow === rebuilt.statsRow, s"stats drift at seed=$seed")
      val q = docs.filter(col("doc_id") < 10)
      assert(search(appended, q) === search(rebuilt, q), s"default params, seed=$seed")
      assert(search(appended, q, k1 = 0.6, b = 0.9) ===
        search(rebuilt, q, k1 = 0.6, b = 0.9), s"custom params, seed=$seed")
    }
  }
}
