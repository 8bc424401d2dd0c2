package graft.operators

import graft.embed.Embedder
import graft.core.{Keys, Serialize}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed clustering over embedding vectors (the engine's semantic GROUP BY).
  *
  * The reference's default clusterer ("SLINK", which is actually sklearn DBSCAN with
  * eps=1-threshold on cosine distance — reference: src/linktransformer/cluster_fns.py:8-78)
  * is re-expressed as: ε-similarity graph (range self-join on cosine >= 1-eps) →
  * connected components → density/noise relabeling. Exact single-linkage, fully
  * distributed — no driver-side materialization (SURVEY §7.4 point 7).
  */
object Clustering extends Logging {

  /** Expected SRP-LSH candidate recall for a pair at exactly `cosine = tau`:
    * collision probability per bit is p = 1 - θ/π, a band collides with p^bits,
    * and the pair is found unless all bands miss. Pairs safely above `tau`
    * have higher recall; pairs at the threshold are the worst case this bound
    * describes. Exposed so callers can size `nBands` to a recall target.
    */
  def srpRecallAtTau(tau: Double, nBands: Int, bitsPerBand: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bitsPerBand), nBands)
  }

  /** Smallest `nBands` whose [[srpRecallAtTau]] reaches `targetRecall` at
    * `tau` — the sizing inverse, so callers state a recall budget instead of
    * hand-picking band counts: `epsilonClusterLsh(df, id, vec, tau,
    * nBands = nBandsForRecall(tau, 8, 0.95))`. Cost scales linearly in the
    * result (one signature row per band), so the returned count is also the
    * price tag of the recall target.
    */
  def nBandsForRecall(tau: Double, bitsPerBand: Int, targetRecall: Double): Int = {
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    val pBand = math.pow(p, bitsPerBand)
    require(pBand > 0,
      s"band collision probability is 0 at tau=$tau (opposite vectors) — no band count reaches recall $targetRecall")
    if (pBand >= 1.0) 1
    else math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pBand)).toInt.max(1)
  }

  /** Driver union-find (path-halving + union-by-rank) over an edge list;
    * returns (id, minIdOfComponent) for every edge-incident node.
    */
  private[operators] def unionFindMinLabel(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    // boxed key/value types: the Scala-primitive form of these maps unboxes
    // a missing-key null to 0, silently corrupting the interning
    val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def intern(id: Long): Int = {
      val got = idx.get(java.lang.Long.valueOf(id))
      if (got == null) { val i = ids.length; idx.put(id, i); ids += id; i }
      else got.intValue()
    }
    val l = new Array[Int](edges.length)
    val r = new Array[Int](edges.length)
    var e = 0
    while (e < edges.length) { l(e) = intern(edges(e)._1); r(e) = intern(edges(e)._2); e += 1 }
    val parent = Array.tabulate(ids.length)(identity)
    val rank = new Array[Byte](ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    e = 0
    while (e < edges.length) {
      val a = find(l(e)); val b = find(r(e))
      if (a != b) {
        if (rank(a) < rank(b)) parent(a) = b
        else if (rank(a) > rank(b)) parent(b) = a
        else { parent(b) = a; rank(a) = (rank(a) + 1).toByte }
      }
      e += 1
    }
    val minOf = new java.util.HashMap[java.lang.Integer, java.lang.Long]()
    var i = 0
    while (i < ids.length) {
      val root = java.lang.Integer.valueOf(find(i))
      val cur = minOf.get(root)
      if (cur == null || ids(i) < cur.longValue()) minOf.put(root, ids(i))
      i += 1
    }
    (0 until ids.length).map(i => (ids(i), minOf.get(java.lang.Integer.valueOf(find(i))).longValue()))
  }

  /** Connected components by iterative min-label propagation over a DataFrame
    * edge list `(src, dst)` (both directions need not be present; we symmetrize).
    * Returns `(id, component)` where `component` = min node id reachable.
    *
    * Replaces networkx.connected_components (reference: cluster_fns.py:81-93).
    * Each iteration is one shuffle on `id`; iterations = O(graph diameter), with
    * persistence + local checkpointing to keep lineage bounded at scale.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val n = nodes.select(col(nodes.columns.head).cast("long").as("id")).distinct()
    val labels = componentsOfEdgeIncident(edges)
    // isolated nodes (no edges) are their own component by definition and never
    // enter the iteration — in near-dup workloads they are the vast majority
    val isolated = n.join(labels, Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    labels.unionByName(isolated)
  }

  /** Components of edge-incident nodes only — the kernel behind
    * [[connectedComponents]], also used directly where non-incident nodes get
    * a sentinel label (DBSCAN noise) rather than their own component.
    */
  private[operators] def componentsOfEdgeIncident(edges: DataFrame): DataFrame = {
    // the edge list is evaluated once (it is the similarity self-scan) and
    // pinned; both directions are derived from the pinned copy. The pin is
    // lazy: the bounded collect below computes and pins it in its one job,
    // and the distributed iteration reads the pinned blocks
    val e0 = edges.select(
      col(edges.columns(0)).cast("long").as("src"),
      col(edges.columns(1)).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(eager = false)
    val spark = edges.sparkSession
    import spark.implicits._

    // small-graph fast path: below the guard, a driver union-find replaces
    // ~5 shuffles × O(diameter) iterations with one bounded collect (one job
    // sizes and collects the edge list together). Edge-bounded (≤ ~80 MB of
    // longs at the limit), so this never materializes the INPUT — only the
    // (already ε/LSH-filtered) edge list. The distributed iteration below
    // remains the path for genuinely large graphs.
    val small = VecScan.collectIfFits(e0, Regime.SmallGraphEdgeLimit(spark))(
      _ => 1L, r => (r.getLong(0), r.getLong(1)))
    if (small.isDefined)
      return spark.createDataset(unionFindMinLabel(small.get)).toDF("id", "component")

    // symmetrized once and truncated: every iteration reuses it
    val sym = e0.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint(true)
    // convergence check: per-node labels only ever decrease, so the global sum
    // is strictly monotone — "sum unchanged" ⟺ fixed point. One cheap agg per
    // iteration instead of a join + count.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("component"), lit(0L))).first().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      // candidate label for each node: min over neighbors' labels and own,
      // then one path-compression hop (component := component's component) so
      // labels shortcut geometrically — O(log diameter) rounds instead of
      // O(diameter) for chain-shaped duplicate groups. localCheckpoint keeps
      // the per-iteration plan constant-size (otherwise the lineage — and
      // driver heap — grows geometrically with iterations).
      val fromNeighbors = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("component"))
      val minned = labels.select(col("id"), col("component"))
        .union(fromNeighbors)
        .groupBy("id").agg(min("component").as("component"))
      val next = minned
        .join(minned.select(col("id").as("__cid"), col("component").as("__cc")),
          col("component") === col("__cid"), "left")
        .select(col("id"), coalesce(col("__cc"), col("component")).as("component"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    labels
  }

  /** ε-neighbor pairs over `(id, v)` with cosine >= tau.
    *
    * Plan selection: broadcast-matrix scan (exact, zero shuffle) while the
    * table fits [[Regime.MaxBroadcastBytes]]; above it the SRP-LSH bucket
    * equi-join (candidates exact-verified at >= tau — precision 1, recall
    * < 1 near the threshold), because an O(n²) crossJoin over a table that
    * big is not a survivable plan.
    */
  private def rangePairs(
      pts: DataFrame, tau: Double, onlyUpperPairs: Boolean,
      nBands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    val mat = VecScan.collectMatIfFits(pts, "id", "v")
    if (mat.isDefined) {
      VecScan.range(pts, "id", "v", mat.get, tau,
        excludeSelf = true, onlyUpperPairs = onlyUpperPairs)
    } else {
      // never silent: results become approximate here, and at tau ~0.5 the
      // default 8x8 bands are far from recall 1 — surface both facts
      logWarning(
        f"rangePairs: input exceeds the broadcast bound " +
        f"(${Regime.MaxBroadcastBytes.key}); escalating from the exact scan to " +
        f"SRP-LSH candidate pairs ($nBands bands x $bitsPerBand bits, estimated " +
        f"worst-case pair recall ${srpRecallAtTau(tau, nBands, bitsPerBand)}%.3f " +
        f"at tau=$tau%.3f). Raise nBands to trade cost for recall.")
      val upper = Ann.srpCandidatePairs(pts, "id", "v", tau, nBands, bitsPerBand)
        .select(col("i").as("left_id"), col("j").as("right_id"), col("score"))
      if (onlyUpperPairs) upper
      else upper.union(upper.select(col("right_id"), col("left_id"), col("score")))
    }
  }

  /** DBSCAN-equivalent over a vector column on cosine distance.
    *
    * `eps` is cosine DISTANCE (1 - similarity), `minSamples` counts the point
    * itself (sklearn semantics). Core points form clusters via connected
    * components of the core-core ε-graph; border points join the minimum-labeled
    * core neighbor's cluster (deterministic — sklearn is order-dependent here,
    * documented divergence); noise gets cluster -1. Cluster labels are the min
    * member id of each cluster's core set (stable, join-friendly).
    * Reference semantics: cluster_fns.py:52-78 ("SLINK"/DBSCAN branch).
    *
    * EXACT while the table fits the broadcast bound; above it ε-neighbor
    * candidates come from the SRP-LSH bucket join (recall < 1 near the
    * threshold → degrees can undercount; a logWarning is emitted and
    * `nBands`/`bitsPerBand` size the recall — see [[srpRecallAtTau]]).
    */
  def dbscanCosine(
      df: DataFrame, idCol: String, vecCol: String,
      eps: Double, minSamples: Int = 2,
      nBands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    import graft.functions.VectorOps._
    val tau = 1.0 - eps
    // pts is read by the pair scan and by the label join-back: a select over
    // a materialized input (clusterRows passes a checkpoint) re-reads it;
    // anything else is pinned by a local checkpoint, which the context
    // cleaner reclaims once the result is dropped (a persist would stay in
    // the CacheManager for the life of the session)
    val sel = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    val pts = if (VecScan.materialized(sel.queryExecution.toRdd)) sel
      else sel.localCheckpoint(eager = false)

    // minSamples <= 2 degenerate case: any point with >= 1 ε-neighbor is core,
    // so there are no border points and DBSCAN is exactly connected components
    // of the ε-graph with isolated points as noise. Skips the degree/core/
    // border stages (3 shuffles + 2 checkpoints) — this is the default path
    // for dedup_rows.
    if (minSamples <= 2) {
      val edges = rangePairs(pts, tau, onlyUpperPairs = true, nBands, bitsPerBand)
        .select(col("left_id").as("i"), col("right_id").as("j"))
      // edge-incident components only; everything else is noise (-1)
      val labels = componentsOfEdgeIncident(edges)
      return pts.select("id").join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), lit(-1L)).as("cluster"))
    }

    // ε-neighbor pairs (i != j), both directions retained by symmetry of the
    // predicate; checkpointed so downstream stages never re-run the self-scan
    val nbrs = rangePairs(pts, tau, onlyUpperPairs = false, nBands, bitsPerBand)
      .select(col("left_id").as("i"), col("right_id").as("j"))
      .localCheckpoint(true)

    // core = |neighbors incl. self| >= minSamples
    val degrees = nbrs.groupBy(col("i").as("id")).agg((count("*") + 1).as("deg"))
    val core = pts.select("id").join(degrees, Seq("id"), "left")
      .select(col("id"), (coalesce(col("deg"), lit(1L)) >= minSamples).as("is_core"))
      .localCheckpoint(true)

    val coreIds = core.filter(col("is_core")).select("id")
    val coreEdges = nbrs
      .join(coreIds.withColumnRenamed("id", "i"), Seq("i"), "left_semi")
      .join(coreIds.withColumnRenamed("id", "j"), Seq("j"), "left_semi")
    val coreLabels = connectedComponents(coreIds, coreEdges.select("i", "j"))

    // border points: non-core with >=1 core neighbor -> min core neighbor's label
    val borderLabels = nbrs
      .join(core.filter(!col("is_core")).select(col("id").as("i")), Seq("i"), "left_semi")
      .join(coreLabels.withColumnRenamed("id", "j"), Seq("j"))
      .groupBy(col("i").as("id")).agg(min("component").as("component"))

    val labeled = coreLabels.union(borderLabels)
    pts.select("id").join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), lit(-1L)).as("cluster"))
  }

  /** Pure ε-graph single-linkage clustering (no density requirement): connected
    * components of the cosine >= tau graph; singletons are their own cluster.
    * The distributed backend for near-dup detection. Exact within the broadcast
    * bound; above it SRP-LSH candidates (see [[dbscanCosine]]).
    */
  def epsilonCluster(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      nBands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    import graft.functions.VectorOps._
    val pts = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    val edges = rangePairs(pts, tau, onlyUpperPairs = true, nBands, bitsPerBand)
      .select(col("left_id").as("i"), col("right_id").as("j"))
    connectedComponents(pts.select("id"), edges)
      .withColumnRenamed("component", "cluster")
  }

  /** Approximate ε-graph clustering via SRP-LSH candidate generation: same
    * output shape as [[epsilonCluster]] but edges come from
    * [[Ann.srpCandidatePairs]] (bucket equi-join, exact-verified) instead of
    * the O(n²) self-scan — the 100 TB path for embedding near-dup. Recall < 1
    * for pairs near the threshold; raise `nBands` to trade cost for recall.
    */
  def epsilonClusterLsh(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      nBands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    import graft.functions.VectorOps._
    val pts = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    val edges = Ann.srpCandidatePairs(pts, "id", "v", tau, nBands, bitsPerBand)
      .select("i", "j")
    connectedComponents(pts.select("id"), edges)
      .withColumnRenamed("component", "cluster")
  }

  /** `cluster_rows` — embed serialized key columns, cluster, attach `cluster` col
    * (reference: src/linktransformer/infer.py:377-438).
    */
  def clusterRows(
      df: DataFrame, on: Seq[String], embedder: Embedder,
      threshold: Double = 0.5, minClusterSize: Int = 2,
      sep: String = Serialize.DefaultSep,
      method: String = "SLINK",
      nBands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    Keys.requireNoReserved(df, Seq("__graft_id", "__graft_text", "__graft_vec", "cluster"))
    val withId = df.withColumn("__graft_id", monotonically_increasing_id())
    val withText = withId.withColumn("__graft_text",
      Serialize.serializeColumns(on.map(withId(_)), sep))
    // checkpoint: the frame branches into the clusterer and the label join-back;
    // row ids must be assigned exactly once (see SemanticJoin.withTextVec)
    val emb = embedder.embed(withText, "__graft_text", "__graft_vec").localCheckpoint(true)
    // dispatch mirrors the reference's cluster_type branches
    // (cluster_fns.py:8-78): "SLINK" (the default, actually DBSCAN) stays the
    // fully distributed path; "agglomerative"/"HDBScan" are driver-side and
    // size-guarded (see HierarchicalClustering)
    val labels = method match {
      case "SLINK" =>
        dbscanCosine(emb, "__graft_id", "__graft_vec",
          eps = 1.0 - threshold, minSamples = minClusterSize,
          nBands = nBands, bitsPerBand = bitsPerBand)
      case "agglomerative" =>
        HierarchicalClustering.agglomerative(emb, "__graft_id", "__graft_vec",
          distanceThreshold = 1.0 - threshold)
      case "HDBScan" =>
        HierarchicalClustering.hdbscan(emb, "__graft_id", "__graft_vec",
          minClusterSize = math.max(2, minClusterSize))
      case m => throw new IllegalArgumentException(
        s"unknown cluster method: $m (expected SLINK | agglomerative | HDBScan)")
    }
    emb.drop("__graft_text", "__graft_vec")
      .join(labels.withColumnRenamed("id", "__graft_id"), Seq("__graft_id"))
      .drop("__graft_id")
  }

  /** `dedup_rows` — exact-dup drop, semantic cluster, keep one row per cluster
    * (reference: infer.py:444-485). Keep-first follows min original row id;
    * noise rows (cluster -1) are all kept.
    */
  def dedupRows(
      df: DataFrame, on: Seq[String], embedder: Embedder,
      threshold: Double = 0.55, minClusterSize: Int = 2,
      nBands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Keys.requireNoReserved(df, Seq("__graft_ord"))
    val withOrd = df.withColumn("__graft_ord", monotonically_increasing_id())
    // exact-duplicate drop, keep first (reference: infer.py:477 keep="first")
    val exactW = Window.partitionBy(on.map(col): _*).orderBy(col("__graft_ord"))
    val exact = withOrd.withColumn("__rn", row_number().over(exactW))
      .filter(col("__rn") === 1).drop("__rn")
    val clustered = clusterRows(exact, on, embedder, threshold, minClusterSize,
      nBands = nBands, bitsPerBand = bitsPerBand)
    val w = Window.partitionBy(col("cluster")).orderBy(col("__graft_ord"))
    clustered
      .withColumn("__rn", row_number().over(w))
      .filter(col("cluster") === -1 || col("__rn") === 1)
      .drop("__rn", "cluster", "__graft_ord")
  }

  /** All intra-cluster pairs (i < j) from a `(id, cluster)` assignment
    * (reference: cluster_fns.py:96-106).
    */
  def edgesFromClusters(assign: DataFrame, idCol: String, clusterCol: String): DataFrame = {
    val x = assign.select(col(clusterCol).as("c"), col(idCol).as("id1"))
    val y = assign.select(col(clusterCol).as("c"), col(idCol).as("id2"))
    x.join(y, "c").filter(col("id1") < col("id2")).select("id1", "id2", "c")
  }
}
