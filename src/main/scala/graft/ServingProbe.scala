package graft

import graft.operators.Regime
import org.apache.spark.sql.functions._

/** Diagnostic main: per-job anatomy of one steady-state search through each
  * persisted index — prints every Spark job the search triggers with its
  * description/callsite, so the serving job budget (jobs × scheduler
  * round-trip dominates sub-100ms searches) can be attributed line by line.
  * Usage: runMain graft.ServingProbe <sfDir> [bm25|bm25_partitioned|ann|int8|minhash ...]
  */
object ServingProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val which = if (args.length > 1) args.drop(1).toSet
      else Set("bm25", "bm25_partitioned", "ann", "int8", "minhash")
    val spark = Bench.session(Bench.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val instrument = Instrument.attach(spark.sparkContext)
    def slice(table: String, id: String, payload: String, lo: Long) = {
      val src = spark.read.parquet(s"$sfDir/$table.parquet")
        .select(col(id).cast("long").as(id), col(payload))
      val rows = src.filter(col(id) >= lo && col(id) < lo + 10).collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(id,
            org.apache.spark.sql.types.LongType, nullable = false),
          src.schema(payload))))
    }
    def probe(name: String, warm: () => Long, timed: () => Long): Unit = {
      warm()
      val mark = instrument.settle()
      val t0 = System.nanoTime()
      val n = timed()
      val wall = (System.nanoTime() - t0) / 1e9
      instrument.settle()
      val jobs = instrument.jobsSince(mark)
      System.err.println(f"[probe] $name: $wall%.4fs rows=$n jobs=${jobs.size}")
      jobs.foreach(j => System.err.println(
        s"[probe]   stages=${j.stageSites.size} :: ${j.stageSites.mkString(" | ").take(700)}"))
      // steady-state floor: best of N repeats of the SAME search (plan and
      // codegen caches warm) — the per-search cost a long-running service
      // converges to
      if (sys.env.contains("PROBE_STEADY")) {
        val walls = (1 to 20).map { _ =>
          val s = System.nanoTime(); timed(); (System.nanoTime() - s) / 1e9
        }
        System.err.println(f"[probe] $name steady: min=${walls.min}%.4fs " +
          f"median=${walls.sorted.apply(walls.size / 2)}%.4fs")
      }
    }
    // one-search wall breakdown: DataFrame construction (driver-side probe
    // collect + plan building), planning (executedPlan), execution (count)
    def breakdown(name: String, df: () => org.apache.spark.sql.DataFrame): Unit =
      if (sys.env.contains("PROBE_STEADY")) {
        val t0 = System.nanoTime()
        val d = df()
        val t1 = System.nanoTime()
        d.queryExecution.executedPlan
        val t2 = System.nanoTime()
        d.count()
        val t3 = System.nanoTime()
        // re-count of the SAME DataFrame: executedPlan + compiled codegen
        // reused, so this isolates the pure job wall from per-DataFrame
        // costs (codegen compile, AQE re-plan)
        d.count()
        val t4 = System.nanoTime()
        System.err.println(f"[probe] $name breakdown: build=${(t1 - t0) / 1e9}%.4fs " +
          f"plan=${(t2 - t1) / 1e9}%.4fs exec=${(t3 - t2) / 1e9}%.4fs " +
          f"reexec=${(t4 - t3) / 1e9}%.4fs")
      }
    def phases(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      val d = df
      val t0 = System.nanoTime(); d.count(); val wall = (System.nanoTime() - t0) / 1e9
      val ph = d.queryExecution.tracker.phases.map { case (k, v) =>
        f"$k=${(v.endTimeMs - v.startTimeMs) / 1000.0}%.3fs" }.mkString(" ")
      val rules = d.queryExecution.tracker.topRulesByTime(5).map { case (r, s) =>
        f"${r.split('.').last}=${s.totalTimeNs / 1e9}%.3fs" }.mkString(" ")
      System.err.println(f"[phases] $name wall=$wall%.4fs $ph :: $rules")
    }
    def explainDf(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
      if (sys.env.contains("PROBE_EXPLAIN")) {
        val d = df; d.collect() // finalize this plan's own AQE
        System.err.println(s"[plan] $name:\n${d.queryExecution.executedPlan}")
      }
    // reference points: the cost floor of trivial actions in this session —
    // an empty-work job (1-row range) and a full count of a cached table —
    // so the searches' walls can be read against the JVM's per-job floor
    def refPoint(name: String, act: () => Long): Unit =
      if (sys.env.contains("PROBE_STEADY")) {
        act()
        val walls = (1 to 10).map { _ =>
          val s = System.nanoTime(); act(); (System.nanoTime() - s) / 1e9
        }
        System.err.println(f"[probe] ref:$name min=${walls.min}%.4fs " +
          f"median=${walls.sorted.apply(walls.size / 2)}%.4fs")
      }
    refPoint("range1", () => spark.range(1).count())
    refPoint("range1_coalesced", () => spark.range(100).coalesce(1).count())
    if (which("bm25")) {
      val bm250 = SparkEntry.steadyBm25Index(spark, sfDir)
      // single-partition pin — same serving configuration as the bench census
      val bm25 = bm250.copy(postings = bm250.postings.coalesce(1))
      bm25.postings.persist(); bm25.postings.count()
      refPoint("bm25_postings_count", () => bm25.postings.count())
      val q0 = slice("documents", "doc_id", "text", 0)
      val q1 = slice("documents", "doc_id", "text", 10)
      probe("bm25_index",
        () => graft.operators.Lexical.bm25SearchIndex(bm25, q0, "doc_id", "text", k = 5).count(),
        () => graft.operators.Lexical.bm25SearchIndex(bm25, q1, "doc_id", "text", k = 5).count())
      phases("bm25_index", graft.operators.Lexical.bm25SearchIndex(bm25, q1, "doc_id", "text", k = 5))
      breakdown("bm25_index", () => graft.operators.Lexical.bm25SearchIndex(
        bm25, q1, "doc_id", "text", k = 5))
    }
    if (which("bm25_partitioned")) {
      // the pinned index with the residency bound at 0 serves from the
      // partitioned tier: one job per search, the first search (which deals
      // and caches the tier) included
      Regime.forcing(spark, Regime.DriverResidentRows, 0L) {
        val bm25 = SparkEntry.steadyBm25Index(spark, sfDir)
        bm25.postings.persist(); bm25.postings.count()
        bm25.statsRow // once per open, as a serving session's prewarm reads it
        val q0 = slice("documents", "doc_id", "text", 0)
        val q1 = slice("documents", "doc_id", "text", 10)
        probe("bm25_partitioned_first", () => 0L,
          () => graft.operators.Lexical.bm25SearchIndex(bm25, q0, "doc_id", "text", k = 5).count())
        probe("bm25_partitioned", () => 0L,
          () => graft.operators.Lexical.bm25SearchIndex(bm25, q1, "doc_id", "text", k = 5).count())
        bm25.postings.unpersist()
      }
    }
    if (which("ann") || which("int8")) {
      val ann0 = SparkEntry.steadyAnnIndex(spark, sfDir)
      val ann = ann0.copy(cells = ann0.cells.coalesce(1))
      ann.cells.persist(); ann.cells.count()
      refPoint("cells_count", () => ann.cells.count())
      val e0 = slice("embeddings", "vec_id", "embedding", 0)
      val e1 = slice("embeddings", "vec_id", "embedding", 10)
      if (which("ann")) probe("ann_index",
        () => graft.operators.Ann.annSearchIndex(ann, e0, "vec_id", "embedding",
          k = 5, nProbe = 8).count(),
        () => graft.operators.Ann.annSearchIndex(ann, e1, "vec_id", "embedding",
          k = 5, nProbe = 8).count())
      if (which("ann")) phases("ann_index", graft.operators.Ann.annSearchIndex(ann, e1, "vec_id", "embedding", k = 5, nProbe = 8))
      if (which("ann")) explainDf("ann_index", graft.operators.Ann.annSearchIndex(
        ann, e1, "vec_id", "embedding", k = 5, nProbe = 8))
      if (which("ann")) breakdown("ann_index", () => graft.operators.Ann.annSearchIndex(
        ann, e1, "vec_id", "embedding", k = 5, nProbe = 8))
      if (which("int8")) breakdown("ann_index_int8", () => graft.operators.Ann.annSearchIndexInt8(
        ann, e1, "vec_id", "embedding", k = 5, nProbe = 8))
      if (which("int8")) phases("ann_index_int8", graft.operators.Ann.annSearchIndexInt8(ann, e1, "vec_id", "embedding", k = 5, nProbe = 8))
      if (which("int8")) probe("ann_index_int8",
        () => graft.operators.Ann.annSearchIndexInt8(ann, e0, "vec_id", "embedding",
          k = 5, nProbe = 8).count(),
        () => graft.operators.Ann.annSearchIndexInt8(ann, e1, "vec_id", "embedding",
          k = 5, nProbe = 8).count())
      if (which("int8")) explainDf("ann_index_int8",
        graft.operators.Ann.annSearchIndexInt8(ann, e1, "vec_id", "embedding",
          k = 5, nProbe = 8))
    }
    if (which("minhash")) {
      val mh0 = SparkEntry.steadyMinhashIndex(spark, sfDir)
      val mh = mh0.copy(postings = mh0.postings.coalesce(1),
        shingles = mh0.shingles.coalesce(1))
      mh.postings.persist(); mh.postings.count()
      mh.shingles.persist(); mh.shingles.count()
      val q0 = slice("documents", "doc_id", "text", 0)
      val q1 = slice("documents", "doc_id", "text", 10)
      probe("minhash_index",
        () => graft.operators.Dedup.minhashSearchIndex(mh, q0, "doc_id", "text",
          jaccardThreshold = 0.8).count(),
        () => graft.operators.Dedup.minhashSearchIndex(mh, q1, "doc_id", "text",
          jaccardThreshold = 0.8).count())
      phases("minhash_index", graft.operators.Dedup.minhashSearchIndex(
        mh, q1, "doc_id", "text", jaccardThreshold = 0.8))
      explainDf("minhash_index", graft.operators.Dedup.minhashSearchIndex(
        mh, q1, "doc_id", "text", jaccardThreshold = 0.8))
      breakdown("minhash_index", () => graft.operators.Dedup.minhashSearchIndex(
        mh, q1, "doc_id", "text", jaccardThreshold = 0.8))
    }
    instrument.close()
    spark.stop()
  }
}
