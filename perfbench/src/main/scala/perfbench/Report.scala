package perfbench

/** Turns a run's outcome (untraced) or its spans (traced) into named metrics. */
object Report {
  type Metrics = Map[String, (Double, String)]

  /** Every end-to-end metric, printed by each untraced run. */
  def endToEnd(out: Outcome, wallS: Double, setupS: Double): Metrics = {
    val lat = out.requestNs.toArray.map(_.asInstanceOf[java.lang.Long].doubleValue / 1e6).toSeq
    Map(
      "setup_s" -> (setupS, "s"),
      "rows_per_s" -> (out.rows.get() / wallS, "rows/s"),
      "request_p50_ms" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms"),
      "request_p90_ms" -> (if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.9), "ms"),
      "recall" -> (out.recall, "fraction"))
  }

  /** Every per-layer metric and its unit, printed by each traced run; a layer
    * the workload does not call reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_gap_s" -> "s", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.shuffle_bytes" -> "bytes", "spark.result_bytes" -> "bytes",
    "embed.s" -> "s", "embed.rows_per_s" -> "rows/s",
    "functions.hash_embed_ns" -> "ns/row", "functions.md5_embed_ns" -> "ns/row",
    "functions.simhash_ns" -> "ns/row", "functions.minhash_sig_ns" -> "ns/row",
    "functions.pq_lut_ns" -> "ns/row", "functions.pq_adc_ns" -> "ns/row",
    "semantic_join.knn_s" -> "s", "semantic_join.range_s" -> "s",
    "semantic_join.blocking_s" -> "s", "semantic_join.pairs_scored" -> "pairs",
    "semantic_join.range_pairs_out" -> "pairs",
    "dedup.minhash_s" -> "s", "dedup.candidate_pairs" -> "pairs",
    "dedup.verified_pairs" -> "pairs", "dedup.verify_ratio" -> "fraction",
    "clustering.dedup_rows_s" -> "s", "clustering.cluster_rows_s" -> "s",
    "clustering.edges" -> "pairs", "clustering.pair_recall" -> "fraction",
    "serving.bm25.p50_ms" -> "ms", "serving.bm25_filtered.p50_ms" -> "ms",
    "serving.ann.p50_ms" -> "ms", "serving.ann_int8.p50_ms" -> "ms",
    "serving.ann_pq.p50_ms" -> "ms", "serving.minhash.p50_ms" -> "ms",
    "serving.jobs_per_search" -> "jobs", "serving.resident_ratio" -> "fraction",
    "serving.resolve_ms" -> "ms", "serving.resident_mb" -> "MB",
    "serving.bm25_resident.p50_ms" -> "ms", "serving.bm25_resident.jobs_per_search" -> "jobs",
    "maintenance.append_ms.bm25" -> "ms", "maintenance.append_ms.ann" -> "ms",
    "maintenance.append_ms.minhash" -> "ms", "maintenance.delete_ms.bm25" -> "ms",
    "maintenance.delete_ms.ann" -> "ms", "maintenance.delete_ms.minhash" -> "ms",
    "maintenance.compact_s" -> "s", "maintenance.commit_ms" -> "ms",
    "maintenance.snapshot_ms" -> "ms", "maintenance.swap_ms" -> "ms",
    "maintenance.total_s" -> "s", "maintenance.bytes_written" -> "bytes",
    "maintenance.files_written" -> "count", "maintenance.write_amplification" -> "ratio",
    "index.build_s" -> "s", "tombstones.dirs" -> "count", "sources.read_s" -> "s", "bench.trace_overhead_s" -> "s")

  def perLayer(ctx: Ctx, spans: Vector[Span], work: Map[Long, SparkWork],
      measured: Map[String, Double], out: Outcome): Metrics = {
    val self = Tracer.selfTimes(spans)
    val run = spans.find(_.name == "bench.run")
    // layer numbers come from the measured phase; set-up spans only feed sources.read
    val byName = spans.filter(s => s.name == "sources.read" || run.exists(r => s.start >= r.start))
      .groupBy(_.name)
    def selfMedianS(name: String): Option[Double] =
      byName.get(name).map(ss => Stats.median(ss.map(s => self(s.id) / 1e9)))
    def durMedianS(name: String): Option[Double] =
      byName.get(name).map(ss => Stats.median(ss.map(_.dur / 1e9)))

    val m = scala.collection.mutable.HashMap.empty[String, Double]
    // the Spark floor, per op: every span opened directly inside the
    // measured phase (or by a client thread during it)
    val ops = run.toVector.flatMap(r => spans.filter(s =>
      s.id != r.id && s.start >= r.start && s.end <= r.end &&
        (s.parent == r.id || s.parent == 0L)))
    if (ops.nonEmpty) {
      def mean(f: (Span, SparkWork) => Double): Double =
        ops.map(s => f(s, work.getOrElse(s.id, new SparkWork))).sum / ops.size
      m("spark.plan_ms") = mean((_, w) => w.planMs.toDouble)
      m("spark.jobs") = mean((_, w) => w.jobs.toDouble)
      m("spark.stages") = mean((_, w) => w.stages.toDouble)
      m("spark.tasks") = mean((_, w) => w.tasks.toDouble)
      m("spark.driver_gap_s") = mean((s, w) => (s.dur - Tracer.covered(
        w.jobIntervals.map { case (a, b) => (a * 1000000L, b * 1000000L) }.toSeq,
        s.start, s.end)) / 1e9)
      m("spark.task_run_s") = mean((_, w) => w.runMs / 1e3)
      m("spark.task_cpu_s") = mean((_, w) => w.cpuNs / 1e9)
      m("spark.shuffle_bytes") = mean((_, w) => w.shuffleBytes.toDouble)
      m("spark.result_bytes") = mean((_, w) => w.resultBytes.toDouble)
    }
    Seq("semantic_join.knn" -> "semantic_join.knn_s", "semantic_join.range" -> "semantic_join.range_s",
      "semantic_join.blocking" -> "semantic_join.blocking_s", "dedup.minhash" -> "dedup.minhash_s",
      "clustering.dedup_rows" -> "clustering.dedup_rows_s",
      "clustering.cluster_rows" -> "clustering.cluster_rows_s",
      "sources.read" -> "sources.read_s", "maintenance.compact" -> "maintenance.compact_s")
      .foreach { case (span, metric) => selfMedianS(span).foreach(m(metric) = _) }
    durMedianS("maintenance.total").foreach(m("maintenance.total_s") = _)
    (Seq("maintenance.commit" -> "maintenance.commit_ms",
      "maintenance.snapshot" -> "maintenance.snapshot_ms", "maintenance.swap" -> "maintenance.swap_ms",
      "serving.resolve" -> "serving.resolve_ms") ++
      Seq("bm25", "ann", "minhash").flatMap(f => Seq(
        s"maintenance.append.$f" -> s"maintenance.append_ms.$f",
        s"maintenance.delete.$f" -> s"maintenance.delete_ms.$f")))
      .foreach { case (span, metric) => durMedianS(span).foreach(s => m(metric) = s * 1e3) }
    // searches: spans named serving.search.<family>
    val searches = byName.filter(_._1.startsWith("serving.search.")).values.flatten.toVector
    searches.groupBy(_.name.stripPrefix("serving.search.")).foreach { case (fam, ss) =>
      m(s"serving.$fam.p50_ms") = Stats.median(ss.map(_.dur / 1e6))
    }
    if (searches.nonEmpty) {
      val jobs = searches.map(s => work.get(s.id).map(_.jobs).getOrElse(0))
      m("serving.jobs_per_search") = jobs.sum.toDouble / jobs.size
      m("serving.resident_ratio") = jobs.count(_ == 0).toDouble / jobs.size
    }
    // minhashLsh's verify work, from its plans' SQL metrics
    byName.get("dedup.minhash").foreach { ss =>
      val ws = ss.map(s => work.getOrElse(s.id, new SparkWork))
      val cands = Stats.median(ws.map(_.candidatePairs.toDouble))
      val verified = Stats.median(ws.map(_.verifiedPairs.toDouble))
      m("dedup.candidate_pairs") = cands
      m("dedup.verified_pairs") = verified
      if (cands > 0) m("dedup.verify_ratio") = verified / cands
    }
    // the resident bm25 root, timed after the measured phase
    byName.get("resident.search.bm25").foreach { ss =>
      m("serving.bm25_resident.p50_ms") = Stats.median(ss.map(_.dur / 1e6))
      m("serving.bm25_resident.jobs_per_search") =
        ss.map(s => work.get(s.id).map(_.jobs).getOrElse(0)).sum.toDouble / ss.size
    }
    out.extra.forEach((k, v) => m(k) = v)
    m ++= measured
    PerLayer.map { case (name, unit) => name -> (m.getOrElse(name, 0.0), unit) }.toMap
  }
}
