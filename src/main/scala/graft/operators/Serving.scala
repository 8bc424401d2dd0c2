package graft.operators

/** Shared serving-regime settings for the persisted indexes. Every family
  * follows one rule: a PINNED index under [[Regime.DriverResidentRows]]
  * serves from its driver mirror (zero jobs), a pinned index over it from
  * its partitioned tier ([[Resident.Partitioned]], one job), and anything
  * else runs the distributed plan. The table lives in README "Retrieval
  * indexes"; the one gate is [[Resident.Tiers.serve]], which reads
  * [[pinned]], the allow-set bound below and [[Resident.eligible]];
  * [[ServingSession]] adds the generation-following lifecycle on top.
  *
  * Why the tiers exist, measured (`ServingProbe` with PROBE_STEADY on
  * the bench box): an EMPTY one-task job (`spark.range(1).count()`) costs
  * 0.06–0.08 s — the local-mode scheduler round-trip floor every 1-job
  * search pays before any data is touched — so a serving search's wall is
  * jobs × floor, not data. The driver mirror removes the floor (measured
  * sf0.1 census: 0.06/0.025/0.023/0.021 s per bm25/ann/int8/minhash
  * search, from 0.164/0.088/0.115/0.169 on the 1-job paths); over the
  * bound, the partitioned tier pays it once per search.
  */
object Serving {

  /** The serving tiers' precondition: the index frames are PINNED (a
    * retrieval service persists them once at open). A cold one-shot batch
    * query must keep the parallel plan — a mirror build reads the whole
    * index, which is right for a hot cache probed repeatedly and wrong for
    * a fresh parquet read. `Dataset.storageLevel` is the public cachedness
    * probe.
    */
  def pinned(dfs: org.apache.spark.sql.DataFrame*): Boolean =
    dfs.forall(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)

  /** Collect a view's `(__allow_id: long)` frame into a driver set, or None
    * when it exceeds [[Regime.MaxDriverAllowIds]] (the limit stops the
    * single task at bound + 1 rows — no unbounded driver materialization
    * either way). A filtered VIEW serves from the serving tiers when its
    * allow-list is driver-sized: the set is collected once per view and
    * each search filters candidate ids in the fold. Scores and corpus stats
    * are computed BEFORE the membership check, so filtering changes top-k
    * membership only, never a score. Over the bound the view keeps the
    * distributed semi-join plan.
    */
  private[operators] def collectAllowSet(
      allowed: org.apache.spark.sql.DataFrame)
      : Option[java.util.HashSet[java.lang.Long]] = {
    val bound = Regime.MaxDriverAllowIds.rows(allowed.sparkSession)
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
