package graft.operators

/** Shared serving-regime tuning for the persisted indexes. A search at
  * serving scale spends its wall on Spark scheduler round-trips, not data —
  * so when an ANN or MinHash search's estimated pruned scan (from the row
  * count the index meta records at write time) fits under this budget, the
  * scoring chain runs as ONE single-partition stage (`coalesce(1)` lets
  * every aggregate elide its exchange). Above the budget — or on an
  * in-memory index, which has no recorded row count — the parallel plan
  * runs unchanged. Results are identical either way: the bounded top-k and
  * ordered-sum aggregates are partition-order-invariant (spec-pinned).
  */
object Serving {
  // The full serving-tier decision table (cold batch → parallel plan;
  // pinned ≤ driverResidentRows → Resident 0-job mirror; pinned BM25 larger
  // → Resident.Bm25Partitioned, 1 job; pinned ANN/MinHash ≤ singleStageRows
  // → 1-job single-stage, larger → pruned parallel; over the driver bounds
  // → fully distributed) lives in README "Retrieval indexes" — the gates
  // are here, in [[Resident.eligible]], and in the per-family search entry
  // points; [[ServingSession]] adds the generation-following lifecycle on
  // top.

  /** Where the serving wall actually goes, measured (r10, `ServingProbe`
    * with PROBE_STEADY on the bench box): an EMPTY one-task job
    * (`spark.range(1).count()`) costs 0.06–0.08 s — the local-mode
    * scheduler round-trip floor every 1-job search pays before any data is
    * touched. Against that floor the per-search walls decompose as
    * DataFrame build 0.04 s + planning 0.015 s + execution (floor + the
    * single task's scan/fold work): ~0.10 s for the float-ANN search
    * (≈30 ms of task work) and ~0.15–0.19 s for BM25 (≈60–80 ms of fold
    * work over the pinned postings — the cached scan reads every posting
    * row of the hit buckets; vocabulary restriction cannot prune below
    * bucket granularity inside a cached partition). Cutting jobs 7→1 was
    * the big lever (each job removed is a floor paid once less); what
    * remains is dominated by the floor itself, which belongs to Spark's
    * scheduler, not to these plans.
    *
    * r11 removed the floor too: under the same pinned precondition and a
    * total-row bound, the [[Resident]] tier mirrors the index into driver
    * structures once per open and serves searches as plain driver
    * arithmetic — zero jobs, so neither the scheduler floor nor the
    * bucket-granularity cache scan is paid at all (measured sf0.1 census:
    * 0.06/0.025/0.023/0.021 s per bm25/ann/int8/minhash search, from
    * 0.164/0.088/0.115/0.169 at r10's 1-job paths). Above the resident
    * bound, a pinned BM25 index serves from [[Resident.Bm25Partitioned]]
    * (the same fold once per partition, one job); the 1-job single-stage
    * plans below remain the ANN and MinHash fallback between the resident
    * bound and the parallel plan.
    */
  val SingleStageRowsKey = "spark.graft.serving.singleStageRows"

  /** ~131k scanned rows: a fraction of a second of single-task work for the
    * widest row these indexes store, far above any interactive search's
    * pruned scan, far below anything that wants the parallel plan.
    */
  val DefaultSingleStageRows: Long = 1L << 17

  def singleStageRows(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(SingleStageRowsKey).map(_.toLong)
      .getOrElse(DefaultSingleStageRows)

  /** The serving regime's second precondition: the index frames are PINNED
    * (a retrieval service persists them once at open). A cold one-shot
    * batch query must keep the parallel plan — the single-partition chain
    * serializes the corpus scan onto one thread, which is right for a hot
    * cache probed repeatedly and wrong for a fresh parquet read (measured:
    * the minhash one-shot leg went 0.38→2.4 s when the fast path fired
    * cold). `Dataset.storageLevel` is the public cachedness probe.
    */
  def pinned(dfs: org.apache.spark.sql.DataFrame*): Boolean =
    dfs.forall(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)

  /** Filtered serving (r13): a filtered VIEW can still serve from the
    * driver-resident tier when its allow-list is itself driver-sized — the
    * id set is collected ONCE per view (one bounded job, amortized across
    * the view's searches) and each resident search filters candidate ids in
    * the driver fold. Filter-context exact: scores and corpus stats are
    * computed BEFORE the membership check, so filtering changes top-k
    * membership only, never a score. Over the bound the view keeps the
    * distributed semi-join plan — a tenant-sized allow-list has no business
    * on the driver.
    */
  val MaxDriverAllowIdsKey = "spark.graft.serving.maxDriverAllowIds"

  /** Same order as the resident row bound: an allow-list bigger than the
    * index rows it filters has stopped being a "filter".
    */
  val DefaultMaxDriverAllowIds: Int = 1 << 17

  def maxDriverAllowIds(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption(MaxDriverAllowIdsKey).map(_.toInt)
      .getOrElse(DefaultMaxDriverAllowIds)

  /** Collect a view's `(__allow_id: long)` frame into a driver set, or None
    * when it exceeds [[maxDriverAllowIds]] (the limit stops the single task
    * at bound + 1 rows — no unbounded driver materialization either way).
    */
  private[operators] def collectAllowSet(
      allowed: org.apache.spark.sql.DataFrame)
      : Option[java.util.HashSet[java.lang.Long]] = {
    val bound = maxDriverAllowIds(allowed.sparkSession)
    val rows = allowed.coalesce(1).limit(bound + 1).collect()
    if (rows.length > bound) None
    else {
      val s = new java.util.HashSet[java.lang.Long](rows.length * 2)
      // a null id (outer-join output, a failed string cast) matches nothing
      // in the distributed semi-join — skip it here too, same semantics
      rows.foreach(r => if (!r.isNullAt(0)) s.add(r.getLong(0)))
      Some(s)
    }
  }
}
