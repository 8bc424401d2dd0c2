package perfbench

import graft.embed.HashEmbedder
import graft.operators.{Ann, Dedup, IndexMaintenance, Lexical, ServingSession}
import graft.operators.IndexMaintenance.genPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The persisted index triad: BM25, IVF (with int8 codes and a PQ codebook)
  * and MinHash generation roots, served through pinned [[ServingSession]]s.
  */
object Indexes {
  val Dim = 64
  val K = 10
  val NProbe = 32
  val Centroids = 64
  val MinhashJaccard = 0.5
  val emb = new HashEmbedder(Dim)

  val Families: Seq[String] = Seq("bm25", "bm25_filtered", "ann", "ann_int8", "ann_pq", "minhash")
  def textFamily(f: String): Boolean = f.startsWith("bm25") || f == "minhash"

  final case class Roots(bm25: String, ann: String, minhash: String) {
    def all: Seq[(String, String)] = Seq("bm25" -> bm25, "ann" -> ann, "minhash" -> minhash)
  }

  def vectors(docs: DataFrame): DataFrame =
    emb.embed(docs.select("doc_id", "text"), "text", "vec").select("doc_id", "vec")

  /** Run the thunks on their own threads (at most the cores in all); wait for all. */
  def parallel(thunks: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = thunks.map(t => new Thread(() => try t() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Write and commit gen-0 of each root from `docs`, the three builds side by side. */
  def build(ctx: Ctx, docs: DataFrame, dir: java.io.File): Roots = {
    val r = Roots(new java.io.File(dir, "bm25").getPath, new java.io.File(dir, "ann").getPath,
      new java.io.File(dir, "minhash").getPath)
    parallel(
      () => ctx.span("index.build.bm25") {
        val (p, st) = Lexical.bm25BuildIndex(docs, "doc_id", "text")
        Lexical.bm25WriteIndex(p, st, genPath(r.bm25, 0), nBuckets = 16)
      },
      () => ctx.span("index.build.ann") {
        // embed once: the build reads its input several times
        val vecs = vectors(docs).localCheckpoint(true)
        val (cells, cents) = Ann.annBuildIndex(vecs, "doc_id", "vec", nCentroids = Centroids)
        Ann.annWriteIndex(cells, cents, genPath(r.ann, 0), pqM = 8)
      },
      () => ctx.span("index.build.minhash") {
        Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(docs, "doc_id", "text"), genPath(r.minhash, 0))
      })
    r.all.foreach { case (_, root) => IndexMaintenance.commitGeneration(ctx.spark, root, 0) }
    r
  }

  /** Open, pin and prewarm one session per root. */
  final class Sessions(ctx: Ctx, roots: Roots, allowed: DataFrame) {
    @volatile private var b: ServingSession[Lexical.Bm25Index] = _
    @volatile private var a: ServingSession[Ann.AnnIndex] = _
    @volatile private var m: ServingSession[Dedup.MinHashIndex] = _
    parallel(
      () => b = ctx.span("serving.open.bm25")(ServingSession.bm25(ctx.spark, roots.bm25)),
      () => a = ctx.span("serving.open.ann")(ServingSession.ann(ctx.spark, roots.ann)),
      () => m = ctx.span("serving.open.minhash")(ServingSession.minhash(ctx.spark, roots.minhash)))
    val bm25: ServingSession[Lexical.Bm25Index] = b
    val ann: ServingSession[Ann.AnnIndex] = a
    val minhash: ServingSession[Dedup.MinHashIndex] = m

    /** The generation a search of `family` would be served from now. */
    def generation(family: String): Int = family match {
      case f if f.startsWith("bm25") => bm25.resolved._1
      case "minhash" => minhash.resolved._1
      case _ => ann.resolved._1
    }

    /** Search one family with the generation it was served from. */
    def search(family: String, q: DataFrame): (Int, Array[Row]) = family match {
      case "bm25" =>
        val (g, i) = ctx.span("serving.resolve")(bm25.resolved)
        g -> ctx.span("serving.search.bm25")(
          Lexical.bm25SearchIndex(i, q, "qid", "text", K).collect())
      case "bm25_filtered" =>
        val (g, v) = ctx.span("serving.resolve")(
          bm25.derived(allowed)(i => Lexical.bm25FilteredView(i, allowed, "doc_id")))
        g -> ctx.span("serving.search.bm25_filtered")(
          Lexical.bm25SearchIndex(v, q, "qid", "text", K).collect())
      case "ann" | "ann_int8" | "ann_pq" =>
        val (g, i) = ctx.span("serving.resolve")(ann.resolved)
        g -> ctx.span(s"serving.search.$family")((family match {
          case "ann" => Ann.annSearchIndex(i, q, "qid", "vec", K, NProbe)
          case "ann_int8" => Ann.annSearchIndexInt8(i, q, "qid", "vec", K, NProbe)
          case _ => Ann.annSearchIndexPq(i, q, "qid", "vec", K, NProbe)
        }).collect())
      case "minhash" =>
        val (g, i) = ctx.span("serving.resolve")(minhash.resolved)
        g -> ctx.span("serving.search.minhash")(
          Dedup.minhashSearchIndex(i, q, "qid", "text", MinhashJaccard).collect())
    }

    def close(): Unit = Seq(bm25, ann, minhash).foreach(_.close())
  }

  private val TextSchema = StructType(Seq(StructField("qid", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  private val VecSchema = StructType(Seq(StructField("qid", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def textQueries(spark: SparkSession, qs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(qs.map { case (i, t) => Row(i, t) }: _*),
      TextSchema)

  def vecQueries(spark: SparkSession, qs: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(qs.map { case (i, v) => Row(i, v.toSeq) }: _*),
      VecSchema)

  def idsDf(spark: SparkSession, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
      StructType(Seq(StructField("doc_id", LongType, nullable = false))))

  /** A request of `n` queries of one family over `corpus`, from `r`. */
  def request(ctx: Ctx, family: String, corpus: IndexedSeq[Doc], n: Int, firstQid: Long,
      r: scala.util.Random): DataFrame = {
    val picks = Seq.fill(n)(corpus(r.nextInt(corpus.length)))
    if (textFamily(family))
      textQueries(ctx.spark, picks.zipWithIndex.map { case (d, i) =>
        (firstQid + i, ctx.gen.perturb(d.text, r)) })
    else
      vecQueries(ctx.spark, picks.zipWithIndex.map { case (d, i) =>
        (firstQid + i, ctx.gen.noised(HashEmbedder.embedText(d.text, Dim, true), 0.05, r)) })
  }
}
