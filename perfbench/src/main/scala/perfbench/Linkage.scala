package perfbench

import graft.operators.{Clustering, Dedup, SemanticJoin}
import org.apache.spark.sql.{DataFrame, Row}

/** `linkage_batch`: the reference's own job, one client running passes.
  *
  * Each pass links 2,000 seeded perturbations of documents against the 5,000
  * documents (kNN, range and blocked joins), then clusters, dedups and
  * MinHash-dedups the 7,000-row union. Bound by the embed, dot-product and
  * MinHash kernels and by plan and shuffle; it touches no index.
  */
object Linkage extends Workload {
  val K = 5
  val RangeTau = 0.8
  val DedupTau = 0.55
  val MinhashJaccard = 0.5
  /** Floor of rank-1 match recall and of dedup pair recall (both 1.0 on seeds 1-10, 1001). */
  val RecallFloor = 0.9

  final case class Input(docsPath: String, pertsPath: String, planted: Map[Long, Long],
      inputRows: Long)
  final class State(val docs: DataFrame, val perts: DataFrame, val union: DataFrame,
      val planted: Map[Long, Long], val inputRows: Long) {
    /** Hash of the process's first pass. */
    var first: String = _
  }

  final case class Pass(hash: String, recallAt1: Double, pairRecall: Double,
      rangePairs: Long, clusterPairs: Long)

  private val emb = Indexes.emb

  /** The inputs, written as parquet fixtures. */
  def prepare(ctx: Ctx): Input = {
    val corpus = ctx.gen.docs(ctx.nDocs)
    val perts = ctx.gen.perturbations(corpus, ctx.scaled(2000), firstId = 10000000L)
    Input(ctx.writeFixture("documents", corpus), ctx.writeFixture("perturbations", perts.map(_._1)),
      perts.map { case (p, src) => p.id -> src }.toMap, corpus.size.toLong + perts.size)
  }

  def setup(ctx: Ctx, in: Input): State = {
    val docs = ctx.readFixture(in.docsPath)
    val perts = ctx.readFixture(in.pertsPath)
    val union = docs.select("doc_id", "text").unionByName(perts.select("doc_id", "text"))
    new State(docs, perts, union, in.planted, in.inputRows)
  }

  def teardown(ctx: Ctx, s: State): Unit = ()
  /** Loading the fixtures takes ~0.4 s; more set-ups steady the median. */
  override def setupReps: Int = 7

  /** An untraced run times the first pass of a fresh process, as a batch job
    * runs. The traced run compares an untraced with a traced pass, so it
    * warms up with a full pass first.
    */
  override def warm(ctx: Ctx, s: State): Unit = if (ctx.tracer.enabled) pass(ctx, s)

  /** A result row as text; scores rounded to 6 decimals, so a change that
    * only reorders floating-point sums keeps the hash.
    */
  private def text(tag: String, r: Row): String = tag + r.toSeq.map {
    case d: Double => f"$d%.6f"
    case v => String.valueOf(v)
  }.mkString(",")

  private def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def pass(ctx: Ctx, s: State): Pass = {
    val knn = ctx.span("semantic_join.knn") {
      SemanticJoin.mergeKnn(s.perts, s.docs, on = Seq("text"), embedder = emb, k = K)
        .select("doc_id_x", "doc_id_y", "score").collect()
    }
    val range = ctx.span("semantic_join.range") {
      SemanticJoin.mergeRange(s.perts, s.docs, on = Seq("text"), embedder = emb,
        simThreshold = RangeTau).select("doc_id_x", "doc_id_y", "score").collect()
    }
    val blocking = ctx.span("semantic_join.blocking") {
      SemanticJoin.mergeBlocking(s.perts, s.docs, blockingVars = Seq("source"),
        on = Seq("text"), embedder = emb).select("doc_id_x", "doc_id_y", "score").collect()
    }
    val kept = ctx.span("clustering.dedup_rows") {
      Clustering.dedupRows(s.union, Seq("text"), emb, threshold = DedupTau)
        .select("doc_id").collect()
    }
    val clusters = ctx.span("clustering.cluster_rows") {
      Clustering.clusterRows(s.union, Seq("text"), emb, threshold = DedupTau)
        .select("doc_id", "cluster").collect()
    }
    val lsh = ctx.span("dedup.minhash") {
      Dedup.minhashLsh(s.union, "doc_id", "text", jaccardThreshold = MinhashJaccard).collect()
    }
    // rank-1 match: rows arrive ordered by (left row, rank)
    val top1 = knn.foldLeft(Map.empty[Long, Long]) { (m, r) =>
      if (m.contains(r.getLong(0))) m else m + (r.getLong(0) -> r.getLong(1))
    }
    val recall = s.planted.count { case (p, src) => top1.get(p).contains(src) }.toDouble /
      s.planted.size
    val label = clusters.map(r => r.getLong(0) -> r.get(1).toString).toMap
    val pairRecall = s.planted.count { case (p, src) =>
      label.get(p).exists(c => c != "-1" && label.get(src).contains(c))
    }.toDouble / s.planted.size
    val sizes = clusters.groupBy(_.get(1).toString).collect { case (c, m) if c != "-1" => m.length.toLong }
    val hash = digest(knn.map(text("k", _)).toSeq ++ range.map(text("r", _)) ++
      blocking.map(text("b", _)) ++ kept.map(text("d", _)) ++ clusters.map(text("c", _)) ++
      lsh.map(text("m", _)))
    Pass(hash, recall, pairRecall, range.count(r => !r.isNullAt(1)).toLong,
      sizes.map(n => n * (n - 1) / 2).sum)
  }

  override def census(ctx: Ctx, s: State): Map[String, Double] =
    Census.embed(s.union)

  def run(ctx: Ctx, s: State, stop: Stop, out: Outcome): Map[String, Int] = {
    var n = 0
    var last: Pass = null
    while (!stop.done("client", n)) {
      val t0 = System.nanoTime()
      val p = ctx.span("linkage.pass")(pass(ctx, s))
      out.requestNs.add(System.nanoTime() - t0)
      out.rows.addAndGet(s.inputRows)
      // the committed hash of this seed; for a seed not in the table, the first pass's
      if (s.first == null) {
        s.first = p.hash
        if (ctx.expectedHash("linkage").isEmpty)
          out.notes.add(s"no expected linkage hash for seed ${ctx.seed}; the first pass hashed ${p.hash}")
      }
      val want = ctx.expectedHash("linkage").getOrElse(s.first)
      out.op(s"linkage pass hash ${p.hash} equals $want")(p.hash == want)
      out.op(f"rank-1 match recall ${p.recallAt1}%.3f >= $RecallFloor")(p.recallAt1 >= RecallFloor)
      out.op(f"dedup pair recall ${p.pairRecall}%.3f >= $RecallFloor")(p.pairRecall >= RecallFloor)
      last = p
      n += 1
    }
    if (last != null) {
      out.recall = last.recallAt1
      out.extra.put("clustering.pair_recall", last.pairRecall)
      out.extra.put("semantic_join.range_pairs_out", last.rangePairs.toDouble)
      out.extra.put("clustering.edges", last.clusterPairs.toDouble)
      out.extra.put("semantic_join.pairs_scored",
        s.planted.size.toDouble * (s.inputRows - s.planted.size))
    }
    Map("client" -> n)
  }
}
