package perfbench

import java.util.concurrent.ConcurrentHashMap

import graft.embed.HashEmbedder
import graft.operators.{Ann, Dedup, IndexMaintenance, Lexical, Resident, ServingSession, Snapshots,
  Tombstones}
import graft.operators.IndexMaintenance.{currentGeneration, currentPath, genPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** `index_churn`: writes and the searches that follow them on the bm25, ann
  * and minhash generation roots, served through pinned
  * [[graft.operators.ServingSession]]s.
  *
  * One client runs cycles. A cycle writes: `*AppendIndex` (50 seeded new
  * docs) and `*DeleteFromIndex` (20 seeded live ids) on every root, then
  * maintenance: compaction into a new generation, its commit, the first
  * search served from it, a snapshot of it (dropping the previous one) and a
  * prune of old generations. It then sends 96 search requests of 10
  * queries, each of the six families once per round in a seeded order
  * ([[schedule]]): bm25 and bm25 filtered (a tenant view of half the
  * sources), ann, ann int8 and ann pq (noised document embeddings), and
  * minhash. Reads follow the writes rather
  * than overlap them: with a reader beside the writer on the same cores,
  * read latency measured the scheduling of the two more than either one, and
  * its spread across runs exceeded any usable bound.
  *
  * The corpus holds [[CorpusDocs]] documents, ~136k bm25 postings rows: over
  * the engine's default resident bound (131,072 rows), so the two bm25
  * families serve through pinned distributed plans while the four others
  * stay resident (zero Spark jobs). A second bm25 root over the first 5,000
  * documents (~117k rows, the sf0.1 fixture size) is served resident: the
  * output checks compare it with `Lexical.bm25TopK` and the traced run times
  * it (`serving.bm25_resident.*`).
  *
  * A session serves one committed generation until it swaps to the next, so
  * a delete becomes visible with the generation compacted after it; the
  * searches check that no search served from such a generation returns a
  * deleted id.
  */
object Churn extends Workload {
  val QueriesPerRequest = 10
  /** Search requests after each write cycle: 16 rounds of the six families. */
  val ReadsPerCycle = 96
  val AppendDocs = 50
  val DeleteIds = 20
  val Probes = 20
  val RecallProbes = 100
  val RecallFloor = 0.8
  /** Corpus size, fixed: 5,000 docs plus 800 that take the bm25 postings
    * (134.9k-137.1k rows on seeds 1-10 and 1001) past 131,072 rows.
    */
  val CorpusDocs = 5800
  /** Searches of the resident bm25 root timed by the traced run. */
  val ResidentSearches = 40
  val Roots: Seq[String] = Seq("bm25", "ann", "minhash")

  final case class Input(dir: java.io.File, corpus: Vector[Doc], docsPath: String,
      roots: Indexes.Roots, residentRoot: String, allowed: Seq[Long], buildS: Double)
  final class State(val in: Input, val docs: DataFrame, val sessions: Indexes.Sessions) {
    def corpus: Vector[Doc] = in.corpus
    def roots: Indexes.Roots = in.roots
    var cycle = 0
    var maintenances = 0
    val live: scala.collection.mutable.ArrayBuffer[Long] =
      scala.collection.mutable.ArrayBuffer.from(corpus.map(_.id))
    val pending = scala.collection.mutable.Set.empty[Long]
    /** Ids deleted before generation g of a root was committed. */
    val hidden = new ConcurrentHashMap[(String, Int), Set[Long]]
    val seenFiles = scala.collection.mutable.HashMap.empty[String, Long]
    var bytesWritten = 0L
    var filesWritten = 0L
    var userBytes = 0L
  }

  /** Families in a seeded order: each family once in every round of six. */
  def schedule(r: scala.util.Random): Iterator[String] =
    Iterator.continually(r.shuffle(Indexes.Families)).flatten

  def prepare(ctx: Ctx): Input = {
    val base = ctx.gen.docs(ctx.nDocs)
    val corpus = base ++ ctx.gen.docs(ctx.scaled(CorpusDocs) - ctx.nDocs, firstId = ctx.nDocs,
      stream = 2)
    val docsPath = ctx.writeFixture("documents", corpus)
    val dir = new java.io.File(ctx.workDir, "indexes")
    val residentRoot = new java.io.File(dir, "bm25_resident").getPath
    var roots: Indexes.Roots = null
    var buildS = 0.0
    Indexes.parallel(
      () => {
        val t0 = System.nanoTime()
        roots = Indexes.build(ctx, ctx.readFixture(docsPath), dir)
        buildS = (System.nanoTime() - t0) / 1e9
      },
      () => {
        val (p, st) = Lexical.bm25BuildIndex(ctx.docsDf(base), "doc_id", "text")
        Lexical.bm25WriteIndex(p, st, genPath(residentRoot, 0), nBuckets = 16)
        IndexMaintenance.commitGeneration(ctx.spark, residentRoot, 0)
      })
    // the tenant allow-list of the filtered family: half the sources
    Input(dir, corpus, docsPath, roots, residentRoot,
      corpus.filter(_.source.stripPrefix("src").toInt % 2 == 0).map(_.id), buildS)
  }

  def setup(ctx: Ctx, in: Input): State = {
    val s = new State(in, ctx.readFixture(in.docsPath),
      new Indexes.Sessions(ctx, in.roots, Indexes.idsDf(ctx.spark, in.allowed)))
    in.roots.all.foreach { case (_, root) => s.hidden.put((root, 0), Set.empty) }
    val r = new scala.util.Random(ctx.seed)
    Indexes.Families.foreach(f =>
      s.sessions.search(f, Indexes.request(ctx, f, in.corpus, QueriesPerRequest, 0L, r)))
    track(s)
    s.bytesWritten = 0L; s.filesWritten = 0L
    s
  }

  def teardown(ctx: Ctx, s: State): Unit = s.sessions.close()

  /** Warm-up: the search path for 1 s, no writes (not in smoke runs). */
  override def warm(ctx: Ctx, s: State): Unit = if (!ctx.smoke) {
    val r = new scala.util.Random(ctx.seed)
    val families = schedule(r)
    val end = System.nanoTime() + 1000000000L
    while (System.nanoTime() < end) {
      val f = families.next()
      s.sessions.search(f, Indexes.request(ctx, f, s.corpus, QueriesPerRequest, 0L, r))
    }
  }

  /** Served bm25 equals `Lexical.bm25TopK` over the documents on fixed
    * probes, on the distributed root and on the resident one; ann recall@5
    * against `Ann.bruteForceTopK` is the run's recall and stays above the
    * floor.
    */
  override def check(ctx: Ctx, s: State, out: Outcome): Unit = {
    val r = new scala.util.Random(ctx.seed + 99)
    val text = Indexes.textQueries(ctx.spark, Seq.tabulate(Probes) { i =>
      (i.toLong, ctx.gen.perturb(s.corpus(r.nextInt(s.corpus.length)).text, r)) })
    val served = s.sessions.search("bm25", text)._2
    val exact = Lexical.bm25TopK(s.docs, "doc_id", "text", text, "qid", "text", Indexes.K).collect()
    out.op("served bm25 equals bm25TopK on the probe set")(bm25Rows(served) == bm25Rows(exact))
    val baseDocs = s.docs.filter(col("doc_id") < ctx.nDocs)
    out.op("resident bm25 equals bm25TopK on the probe set") {
      val exactBase = Lexical.bm25TopK(baseDocs, "doc_id", "text", text, "qid", "text", Indexes.K)
      withResident(ctx, s)(search => bm25Rows(search(text))) == bm25Rows(exactBase.collect())
    }
    val q = Indexes.vecQueries(ctx.spark, Seq.tabulate(RecallProbes) { i =>
      val d = s.corpus(r.nextInt(s.corpus.length))
      (i.toLong, ctx.gen.noised(HashEmbedder.embedText(d.text, Indexes.Dim, true), 0.05, r))
    })
    def top5(rows: Array[Row]) = rows.filter(_.getAs[Int]("rank") <= 5)
      .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"))).toSet
    val truth = top5(Ann.bruteForceTopK(q, "qid", "vec", Indexes.vectors(s.docs), "doc_id", "vec", 5)
      .collect())
    out.recall = (top5(s.sessions.search("ann", q)._2) intersect truth).size.toDouble / truth.size
    out.op(f"ann recall@5 ${out.recall}%.3f >= $RecallFloor")(out.recall >= RecallFloor)
  }

  /** Opens a session over the resident bm25 root, hands `f` its search, closes it. */
  private def withResident[A](ctx: Ctx, s: State)(f: (DataFrame => Array[Row]) => A): A = {
    val session = ServingSession.bm25(ctx.spark, s.in.residentRoot)
    try f(q => Lexical.bm25SearchIndex(session.resolved._2, q, "qid", "text", Indexes.K).collect())
    finally session.close()
  }

  private def bm25Rows(rows: Array[Row]): Set[(Long, Long, Double)] =
    rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
      math.rint(r.getAs[Double]("score") * 1e9) / 1e9)).toSet

  /** Files under the roots not seen before: what the last write put on disk. */
  private def track(s: State): Unit = {
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (!s.seenFiles.contains(f.getPath)) {
        s.seenFiles(f.getPath) = f.length(); s.bytesWritten += f.length(); s.filesWritten += 1
      }
    walk(s.in.dir)
  }

  /** Result (query, returned id) pairs of one family's search rows. */
  def resultIds(family: String, rows: Array[Row]): Seq[(Long, Long)] = {
    val (q, id) = family match {
      case f if f.startsWith("bm25") => ("query_id", "doc_id")
      case "minhash" => ("batch_id", "corpus_id")
      case _ => ("left_id", "right_id")
    }
    rows.toSeq.map(r => (r.getAs[Long](q), r.getAs[Long](id)))
  }

  private def root(s: State, family: String): String = family match {
    case f if f.startsWith("bm25") => s.roots.bm25
    case "minhash" => s.roots.minhash
    case _ => s.roots.ann
  }

  private def probeQueries(ctx: Ctx, s: State): (DataFrame, DataFrame) = {
    val r = new scala.util.Random(ctx.seed + 7)
    val docs = Seq.fill(Probes)(s.corpus(r.nextInt(s.corpus.length)))
    (Indexes.textQueries(ctx.spark, docs.zipWithIndex.map { case (d, i) => (i.toLong, d.text) }),
      Indexes.vecQueries(ctx.spark, docs.zipWithIndex.map { case (d, i) =>
        (i.toLong, HashEmbedder.embedText(d.text, Indexes.Dim, true)) }))
  }

  /** Probe results of freshly opened (unpinned) indexes at each root's path. */
  private def probeOpened(ctx: Ctx, s: State, paths: Map[String, String]): Map[String, Set[(Long, Long)]] = {
    val (text, vec) = probeQueries(ctx, s)
    Map(
      "bm25" -> resultIds("bm25", Lexical.bm25SearchIndex(
        Lexical.bm25OpenIndex(ctx.spark, paths("bm25")), text, "qid", "text", Indexes.K).collect()).toSet,
      "ann" -> resultIds("ann", Ann.annSearchIndex(Ann.annOpenIndex(ctx.spark, paths("ann")),
        vec, "qid", "vec", Indexes.K, Indexes.NProbe).collect()).toSet,
      "minhash" -> resultIds("minhash", Dedup.minhashSearchIndex(
        Dedup.minhashOpenIndex(ctx.spark, paths("minhash")), text, "qid", "text",
        Indexes.MinhashJaccard).collect()).toSet)
  }

  /** Probe results served by the sessions. */
  private def probeServed(ctx: Ctx, s: State): Map[String, Set[(Long, Long)]] = {
    val (text, vec) = probeQueries(ctx, s)
    Roots.map(f => f -> resultIds(f,
      s.sessions.search(f, if (Indexes.textFamily(f)) text else vec)._2).toSet).toMap
  }

  private def writerCycle(ctx: Ctx, s: State, out: Outcome): Unit = {
    s.cycle += 1
    val c = s.cycle
    val spark = ctx.spark
    val r = new scala.util.Random(ctx.seed * 7919 + c)
    val batch = ctx.gen.docs(AppendDocs, firstId = 20000000L + c * 1000L, stream = 1000L + c)
    val batchDf = ctx.docsDf(batch).select("doc_id", "text")
    out.op(s"cycle $c appends") {
      ctx.span("maintenance.append.bm25")(
        Lexical.bm25AppendIndex(spark, currentPath(spark, s.roots.bm25), batchDf, "doc_id", "text", s"b$c"))
      ctx.span("maintenance.append.ann")(
        Ann.annAppendIndex(spark, currentPath(spark, s.roots.ann), Indexes.vectors(batchDf),
          "doc_id", "vec", s"b$c"))
      ctx.span("maintenance.append.minhash")(
        Dedup.minhashAppendIndex(spark, currentPath(spark, s.roots.minhash), batchDf,
          "doc_id", "text", s"b$c"))
      track(s)
      true
    }
    s.userBytes += batch.map(d => d.text.getBytes("UTF-8").length + 8L).sum
    val victims = Seq.fill(DeleteIds)(s.live.remove(r.nextInt(s.live.length)))
    val ids = Indexes.idsDf(spark, victims)
    out.op(s"cycle $c deletes") {
      ctx.span("maintenance.delete.bm25")(
        Lexical.bm25DeleteFromIndex(spark, currentPath(spark, s.roots.bm25), ids, "doc_id", s"d$c"))
      ctx.span("maintenance.delete.ann")(
        Ann.annDeleteFromIndex(spark, currentPath(spark, s.roots.ann), ids, "doc_id", s"d$c"))
      ctx.span("maintenance.delete.minhash")(
        Dedup.minhashDeleteFromIndex(spark, currentPath(spark, s.roots.minhash), ids, "doc_id", s"d$c"))
      track(s)
      true
    }
    s.pending ++= victims
    s.live ++= batch.map(_.id)
    out.rows.addAndGet(AppendDocs + DeleteIds)
  }

  private def maintain(ctx: Ctx, s: State, out: Outcome): Unit = {
    val spark = ctx.spark
    s.maintenances += 1
    val m = s.maintenances
    val before = s.roots.all.map { case (f, root) => f -> currentPath(spark, root) }.toMap
    val probeBefore = probeOpened(ctx, s, before)
    out.extra.put("tombstones.dirs", s.roots.all.map { case (f, _) =>
      Tombstones.deleteDirCount(spark, before(f)) }.sum.toDouble)
    val gens = s.roots.all.map { case (f, root) => f -> (currentGeneration(spark, root) + 1) }.toMap
    val hiddenNow = s.hidden.values().toArray.map(_.asInstanceOf[Set[Long]])
      .foldLeft(Set.empty[Long])(_ ++ _) ++ s.pending
    out.op(s"maintenance $m serves the new generations") {
      val swapped = ctx.span("maintenance.total") {
        ctx.span("maintenance.compact")(s.roots.all.foreach { case (f, root) =>
          val dst = genPath(root, gens(f))
          f match {
            case "bm25" => Lexical.bm25CompactIndex(spark, before(f), dst)
            case "ann" => Ann.annCompactIndex(spark, before(f), dst)
            case _ => Dedup.minhashCompactIndex(spark, before(f), dst)
          }
        })
        s.roots.all.foreach { case (f, root) => s.hidden.put((root, gens(f)), hiddenNow) }
        ctx.span("maintenance.commit")(s.roots.all.foreach { case (f, root) =>
          IndexMaintenance.commitGeneration(spark, root, gens(f))
        })
        // the session swaps on the first resolve that sees the commit
        val swapped = ctx.span("maintenance.swap")(Roots.map { f =>
          while (s.sessions.generation(f) < gens(f)) Thread.sleep(5)
          val q = Indexes.request(ctx, f, s.corpus, QueriesPerRequest, 0L, new scala.util.Random(m))
          s.sessions.search(f, q)._1 == gens(f)
        })
        // prune only after every session re-resolved (the reader contract)
        ctx.span("maintenance.snapshot")(s.roots.all.foreach { case (_, root) =>
          Snapshots.create(spark, root, s"s$m")
          if (m > 1) Snapshots.drop(spark, root, s"s${m - 1}")
          IndexMaintenance.pruneGenerations(spark, root)
        })
        swapped
      }
      track(s)
      swapped.forall(identity)
    }
    s.pending.clear()
    val after = probeServed(ctx, s)
    Roots.foreach(f => out.op(s"$f probe results identical across compaction $m")(
      probeBefore(f) == after(f)))
  }

  /** Also times the resident bm25 root: `ResidentSearches` requests. */
  override def census(ctx: Ctx, s: State): Map[String, Double] = {
    val r = new scala.util.Random(ctx.seed + 5)
    val base = s.corpus.take(ctx.nDocs)
    withResident(ctx, s) { search =>
      (0 until ResidentSearches).foreach { n =>
        val q = Indexes.request(ctx, "bm25", base, QueriesPerRequest, n * 10L, r)
        ctx.span("resident.search.bm25")(search(q))
      }
    }
    Census.embed(s.docs) + ("index.build_s" -> s.in.buildS)
  }

  def run(ctx: Ctx, s: State, stop: Stop, out: Outcome): Map[String, Int] = {
    val r = new scala.util.Random(ctx.seed * 1000 + s.cycle)
    val families = schedule(r)
    var cycles = 0
    while (!stop.done("client", cycles)) {
      writerCycle(ctx, s, out)
      maintain(ctx, s, out)
      (0 until ReadsPerCycle).foreach { n =>
        val f = families.next()
        val q = Indexes.request(ctx, f, s.corpus, QueriesPerRequest, n * 10L, r)
        val t0 = System.nanoTime()
        out.op(s"$f search returns no deleted id") {
          val (g, rows) = ctx.span("serving.request")(s.sessions.search(f, q))
          val hidden = s.hidden.getOrDefault((root(s, f), g), Set.empty)
          !resultIds(f, rows).exists { case (_, id) => hidden.contains(id) }
        }
        out.requestNs.add(System.nanoTime() - t0)
        out.rows.addAndGet(QueriesPerRequest)
      }
      cycles += 1
    }
    out.extra.put("serving.resident_mb", Resident.residentBytes / 1048576.0)
    out.extra.put("maintenance.bytes_written", s.bytesWritten.toDouble)
    out.extra.put("maintenance.files_written", s.filesWritten.toDouble)
    if (s.userBytes > 0)
      out.extra.put("maintenance.write_amplification", s.bytesWritten.toDouble / s.userBytes)
    Map("client" -> cycles)
  }
}
