package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hierarchical clusterers: agglomerative (NN-chain + Lance-Williams) and
  * HDBSCAN (mutual-reachability MST → condensed tree → excess-of-mass).
  *
  * These mirror the reference's non-default clusterer branches
  * (reference: src/linktransformer/cluster_fns.py:8-78 — "agglomerative" via
  * sklearn AgglomerativeClustering with distance_threshold, "HDBScan" via the
  * hdbscan library). Agglomerative (4 linkages) is inherently global with no
  * exact distributed formulation and stays a guarded driver kernel; HDBSCAN
  * has BOTH a guarded driver kernel ([[hdbscan]], Prim over the full matrix)
  * and a distributed path ([[hdbscanDistributed]], Borůvka over Spark jobs)
  * that is value-identical on the exact candidate graph — only the n-1 MST
  * edges ever reach the driver. The fully-distributed flat-clustering
  * alternative remains [[Clustering.dbscanCosine]] / [[Clustering.epsilonCluster]].
  *
  * Cluster labels follow the engine convention: label = min original id of the
  * cluster's members; HDBSCAN noise = -1.
  */
object HierarchicalClustering extends org.apache.spark.internal.Logging {

  /** Row guards: agglomerative holds an O(n²) double matrix (~800 MB at the
    * limit); HDBSCAN is O(n) memory but O(n²) time.
    */
  val MaxAgglomRows = 10000
  val MaxHdbscanRows = 30000

  private def collectVectors(
      df: DataFrame, idCol: String, vecCol: String,
      limit: Int, opName: String): (Array[Long], Array[Array[Double]]) = {
    import graft.functions.VectorOps.asDouble
    val n = df.count()
    require(n <= limit,
      s"$opName is a driver-side operator guarded at $limit rows (got $n); " +
        "use Clustering.dbscanCosine/epsilonCluster for the distributed path")
    val rows = df.select(col(idCol).cast("long"), asDouble(col(vecCol))).collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Double](1).toArray)
    (ids, vecs)
  }

  private def euclidean(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  private def cosineDist(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    1.0 - math.min(1.0, math.max(-1.0, c))
  }

  private def distFn(metric: String): (Array[Double], Array[Double]) => Double =
    metric match {
      case "euclidean" => euclidean
      case "cosine"    => cosineDist
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  // -------------------------------------------------------------- agglomerative

  /** Agglomerative clustering with a distance threshold, NN-chain algorithm
    * (O(n²) time/memory, exact for the reducible linkages below).
    *
    * `linkage`: "single" | "complete" | "average" | "ward" (ward requires
    * euclidean, as in sklearn). Merges stop at `distanceThreshold` — clusters
    * whose linkage distance is >= the threshold are not merged (sklearn
    * `distance_threshold` semantics). Returns `(id, cluster)`.
    */
  def agglomerative(
      df: DataFrame, idCol: String, vecCol: String,
      distanceThreshold: Double,
      linkage: String = "average",
      metric: String = "cosine"): DataFrame = {
    require(linkage != "ward" || metric == "euclidean", "ward requires euclidean metric")
    val (ids, vecs) = collectVectors(df, idCol, vecCol, MaxAgglomRows, "agglomerative")
    val n = ids.length
    val spark = df.sparkSession
    if (n == 0) return emptyAssignment(spark)
    val d = distFn(metric)
    val ward = linkage == "ward"

    // condensed-to-flat n×n matrix; ward stores SQUARED euclidean (the
    // Lance-Williams ward update is expressed over squared distances)
    val m = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val dij = d(vecs(i), vecs(j))
        val v = if (ward) dij * dij else dij
        m(i)(j) = v; m(j)(i) = v
        j += 1
      }
      i += 1
    }

    val active = Array.fill(n)(true)
    val size = Array.fill(n)(1L)
    // merge log: (repA, repB, height in metric units)
    val merges = new scala.collection.mutable.ArrayBuffer[(Int, Int, Double)](n - 1)
    val chain = new Array[Int](n + 1)
    var chainLen = 0
    var remaining = n
    var scanFrom = 0

    while (remaining > 1) {
      if (chainLen == 0) {
        while (!active(scanFrom)) scanFrom += 1
        chain(0) = scanFrom; chainLen = 1
      }
      val top = chain(chainLen - 1)
      // nearest active neighbor of `top` (lowest index wins ties — deterministic)
      var best = -1; var bestD = Double.MaxValue
      var c = 0
      while (c < n) {
        if (active(c) && c != top && m(top)(c) < bestD) { bestD = m(top)(c); best = c }
        c += 1
      }
      if (chainLen >= 2 && best == chain(chainLen - 2)) {
        // reciprocal pair -> merge top into best's slot (keep lower index as rep)
        val a = math.min(top, best); val b = math.max(top, best)
        val height = if (ward) math.sqrt(bestD) else bestD
        merges += ((a, b, height))
        val na = size(a); val nb = size(b)
        var k = 0
        while (k < n) {
          if (active(k) && k != a && k != b) {
            val dka = m(k)(a); val dkb = m(k)(b)
            val nk = size(k)
            val nd = linkage match {
              case "single"   => math.min(dka, dkb)
              case "complete" => math.max(dka, dkb)
              case "average"  => (na * dka + nb * dkb) / (na + nb)
              case "ward" =>
                ((na + nk) * dka + (nb + nk) * dkb - nk * m(a)(b)) / (na + nb + nk)
            }
            m(k)(a) = nd; m(a)(k) = nd
          }
          k += 1
        }
        active(b) = false
        size(a) = na + nb
        remaining -= 1
        chainLen -= 2
      } else {
        chain(chainLen) = best; chainLen += 1
      }
    }

    // cut the dendrogram: union every merge with height < threshold (linkage
    // heights are monotone for these linkages, so this is exactly the cut)
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    merges.foreach { case (a, b, h) =>
      if (h < distanceThreshold) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val minId = new java.util.HashMap[java.lang.Integer, java.lang.Long]()
    i = 0
    while (i < n) {
      val r = java.lang.Integer.valueOf(find(i))
      val cur = minId.get(r)
      if (cur == null || ids(i) < cur.longValue()) minId.put(r, ids(i))
      i += 1
    }
    val out = (0 until n).map(i => (ids(i), minId.get(java.lang.Integer.valueOf(find(i))).longValue()))
    toAssignment(spark, out)
  }

  // -------------------------------------------------------------------- hdbscan

  /** HDBSCAN (excess-of-mass cluster extraction, `allow_single_cluster=false`):
    * core distances (k = minSamples, self included as in the hdbscan library) →
    * mutual-reachability distances → Prim MST → single-linkage hierarchy →
    * condensed tree at `minClusterSize` → stability-maximizing selection.
    * Noise → cluster -1. Returns `(id, cluster)`.
    */
  def hdbscan(
      df: DataFrame, idCol: String, vecCol: String,
      minClusterSize: Int = 5,
      minSamples: Int = -1,
      metric: String = "cosine"): DataFrame = {
    val mcs = math.max(2, minClusterSize)
    val k = if (minSamples > 0) minSamples else mcs
    val (ids, vecs) = collectVectors(df, idCol, vecCol, MaxHdbscanRows, "hdbscan")
    val n = ids.length
    val spark = df.sparkSession
    if (n == 0) return emptyAssignment(spark)
    if (n < mcs) return toAssignment(spark, ids.map(id => (id, -1L)).toSeq)
    val d = distFn(metric)

    // core distance: k-th smallest of the distance row, self (0.0) included —
    // matches hdbscan's knn_dist[:, min_samples-1] with self at column 0
    val core = new Array[Double](n)
    val row = new Array[Double](n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) { row(j) = if (i == j) 0.0 else d(vecs(i), vecs(j)); j += 1 }
      val sorted = row.clone(); java.util.Arrays.sort(sorted)
      core(i) = sorted(math.min(k - 1, n - 1))
      i += 1
    }

    // Prim MST over mutual reachability max(core_i, core_j, d_ij); O(n²), O(n) mem
    val inTree = Array.fill(n)(false)
    val bestDist = Array.fill(n)(Double.MaxValue)
    val bestFrom = Array.fill(n)(-1)
    val mstA = new Array[Int](n - 1); val mstB = new Array[Int](n - 1)
    val mstW = new Array[Double](n - 1)
    inTree(0) = true
    var cur = 0
    var e = 0
    while (e < n - 1) {
      var j = 0
      while (j < n) {
        if (!inTree(j)) {
          val mr = math.max(math.max(core(cur), core(j)), d(vecs(cur), vecs(j)))
          if (mr < bestDist(j)) { bestDist(j) = mr; bestFrom(j) = cur }
        }
        j += 1
      }
      var next = -1; var nd = Double.MaxValue
      j = 0
      while (j < n) { if (!inTree(j) && bestDist(j) < nd) { nd = bestDist(j); next = j }; j += 1 }
      mstA(e) = bestFrom(next); mstB(e) = next; mstW(e) = nd
      inTree(next) = true; cur = next; e += 1
    }

    labelsFromMst(spark, ids, mstA, mstB, mstW, mcs)
  }

  /** Shared HDBSCAN tail: single-linkage dendrogram from MST edges → condensed
    * tree at `mcs` → excess-of-mass selection → min-member-id labels (noise
    * -1). Everything after the MST is O(n) driver work over the n-1 edges —
    * this is what lets [[hdbscanDistributed]] raise the driver bound from
    * O(n²) distance computation to just the edge list.
    *
    * Equal-weight edges are processed as ONE batch producing an n-ary
    * dendrogram node. This is the graph-theoretic single-linkage tree — the
    * components below each distinct height — which every MST of the same
    * mutual-reachability graph induces identically, so Prim ([[hdbscan]]) and
    * Borůvka ([[hdbscanDistributed]]) reach the SAME labels even though
    * mutual-reachability weights tie constantly (w = max(core_a, core_b, d):
    * one hot core distance ties every edge it dominates). A binary-merge tail
    * would be edge-order-dependent under those ties (41/500 labels diverged
    * before batching).
    */
  private def labelsFromMst(
      spark: SparkSession, ids: Array[Long],
      mstA: Array[Int], mstB: Array[Int], mstW: Array[Double],
      mcs: Int): DataFrame = {
    val n = ids.length
    val m = mstW.length
    // nodes: leaves 0..n-1 (size 1); internal nodes n.. appended per batch
    val order = (0 until m).sortBy(mstW)
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    val nodeOf = Array.tabulate(n)(identity) // leaf-root-rep -> dendrogram node
    val childrenN = new scala.collection.mutable.ArrayBuffer[List[Int]]() // node-n
    val heightN = new scala.collection.mutable.ArrayBuffer[Double]()      // node-n
    val nsize = scala.collection.mutable.ArrayBuffer.fill(n)(1)
    var gi = 0
    while (gi < m) {
      // batch = maximal run of exactly-equal weights
      var ge = gi + 1
      val w = mstW(order(gi))
      while (ge < m && mstW(order(ge)) == w) ge += 1
      // groupKids: root -> dendrogram nodes merged at this height
      val groupKids = new java.util.HashMap[Int, List[Int]]()
      var e = gi
      while (e < ge) {
        val ei = order(e)
        val ra = find(mstA(ei)); val rb = find(mstB(ei))
        if (ra != rb) {
          val ka = Option(groupKids.remove(ra)).getOrElse(List(nodeOf(ra)))
          val kb = Option(groupKids.remove(rb)).getOrElse(List(nodeOf(rb)))
          parent(ra) = rb
          groupKids.put(find(rb), ka ++ kb)
        }
        e += 1
      }
      {
        import scala.jdk.CollectionConverters._
        groupKids.entrySet().asScala.foreach { ent =>
          val node = n + childrenN.length
          childrenN += ent.getValue
          heightN += w
          nsize += ent.getValue.map(nsize).sum
          nodeOf(ent.getKey) = node
        }
      }
      gi = ge
    }
    val root = nodeOf(find(0))

    // condensed tree: a node is a TRUE split when >= 2 children reach mcs
    // points (each such child becomes a new condensed cluster); children
    // below mcs fall out of the current cluster point-by-point at λ = 1/height
    def lam(h: Double): Double = 1.0 / math.max(h, 1e-12)
    def kidsOf(node: Int): List[Int] = childrenN(node - n)
    def heightOf(node: Int): Double = heightN(node - n)
    val clParent = new scala.collection.mutable.ArrayBuffer[Int]()   // condensed parent
    val clBirth = new scala.collection.mutable.ArrayBuffer[Double]()
    val clStability = new scala.collection.mutable.ArrayBuffer[Double]()
    clParent += -1; clBirth += 0.0; clStability += 0.0 // root cluster 0
    val ptCluster = new Array[Int](n)   // condensed cluster each point fell out of
    // stack of (dendrogram node, condensed cluster id)
    val stack = new scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    stack += ((root, 0))
    def leavesOf(node0: Int): Seq[Int] = {
      // iterative: dendrograms can be chain-shaped (depth O(n))
      val out = new scala.collection.mutable.ArrayBuffer[Int]()
      var todo = List(node0)
      while (todo.nonEmpty) {
        val x = todo.head; todo = todo.tail
        if (x < n) out += x else todo = kidsOf(x) ::: todo
      }
      out.toSeq
    }
    while (stack.nonEmpty) {
      val (node, cl) = stack.remove(stack.length - 1)
      if (node < n) {
        // unreachable for mcs >= 2 (no size-1 node passes a split guard);
        // kept for safety
        ptCluster(node) = cl
      } else {
        val kids = kidsOf(node)
        val lambda = lam(heightOf(node))
        val big = kids.filter(nsize(_) >= mcs)
        if (big.length >= 2) {
          // true split: each big child becomes a new condensed cluster
          big.foreach { child =>
            val id = clParent.length
            clParent += cl; clBirth += lambda; clStability += 0.0
            clStability(cl) += nsize(child) * (lambda - clBirth(cl))
            stack += ((child, id))
          }
        } else {
          // a single >=mcs child continues `cl`
          big.foreach(child => stack += ((child, cl)))
        }
        // sub-mcs children fall out of `cl` point-by-point at λ
        kids.filterNot(nsize(_) >= mcs).foreach { child =>
          leavesOf(child).foreach { p =>
            ptCluster(p) = cl
            clStability(cl) += lambda - clBirth(cl)
          }
        }
      }
    }

    // excess-of-mass selection, root never selectable (allow_single_cluster=false)
    val nc = clParent.length
    val children = Array.fill(nc)(List.empty[Int])
    var c = nc - 1
    while (c >= 1) { children(clParent(c)) ::= c; c -= 1 }
    val selected = Array.fill(nc)(false)
    val score = new Array[Double](nc)
    c = nc - 1
    while (c >= 0) {
      val childSum = children(c).map(score).sum
      if (c == 0) { score(c) = childSum }
      else if (children(c).isEmpty || clStability(c) >= childSum) {
        selected(c) = true
        score(c) = clStability(c)
        // deselect entire subtree below
        var sub = children(c)
        while (sub.nonEmpty) {
          val x = sub.head; sub = sub.tail
          selected(x) = false; sub = children(x) ++ sub
        }
      } else score(c) = childSum
      c -= 1
    }

    // each point: nearest selected ancestor-or-self of the cluster it fell from
    val label = new Array[Long](n)
    var i = 0
    while (i < n) {
      var cl = ptCluster(i)
      while (cl >= 0 && !selected(cl)) cl = clParent(cl)
      label(i) = cl.toLong // provisional: condensed id or -1
      i += 1
    }
    // remap selected clusters to min member id
    val minId = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < n) {
      if (label(i) >= 0) {
        val cur = minId.get(java.lang.Long.valueOf(label(i)))
        if (cur == null || ids(i) < cur.longValue()) minId.put(label(i), ids(i))
      }
      i += 1
    }
    val out = (0 until n).map { i =>
      (ids(i), if (label(i) < 0) -1L else minId.get(java.lang.Long.valueOf(label(i))).longValue())
    }
    toAssignment(spark, out)
  }

  /** Distributed HDBSCAN (cosine metric): the O(n²) phases — core distances
    * and the mutual-reachability MST — run as Spark jobs; the driver receives
    * only the n-1 MST edges and runs the shared O(n) condensed-tree tail
    * ([[labelsFromMst]]). This moves the practical bound from
    * [[MaxHdbscanRows]] (30k, full distance matrix on the driver) to
    * `maxDriverMstEdges` (default 5M — the same edge-list bound the
    * union-find CC fast path uses).
    *
    * Phases:
    *  1. core distance = 1 − rank-k cosine via [[SemanticJoin.knnJoinVec]]
    *     (self included, like the hdbscan library) — broadcast-matrix scan
    *     below the byte bound, bounded shuffle top-k above it;
    *  2. candidate edges: complete graph (`rangeJoinVec`, tau=−1) while
    *     n ≤ `exactPairBound`, else SRP-LSH bucket collisions
    *     ([[Ann.srpCandidatePairs]]) with a logged escalation warning —
    *     the MST over a candidate subgraph is approximate exactly where the
    *     LSH recall is, mirroring [[Clustering.dbscanCosine]]'s escalation;
    *  3. Borůvka rounds: every component picks its minimum incident edge
    *     under the total order `(w, min_id, max_id)` (ties cannot cycle),
    *     components merge via the distributed CC primitive — O(log n) rounds,
    *     each one equi-join + partial-agg min, no windows, no driver state;
    *  4. disconnected candidate graphs (possible under LSH) are bridged with
    *     above-maximum-weight edges so every point keeps a label (bridged
    *     components never merge below any real density threshold).
    *
    * With the complete candidate graph this is value-identical to [[hdbscan]]
    * whenever MST weights are tie-free (any MST yields the same
    * single-linkage component evolution; ties are implementation-defined in
    * the driver kernel too — see [[labelsFromMst]]).
    *
    * `exactPairBound` also bounds the checkpointed candidate-edge table: the
    * complete graph has n(n-1)/2 rows (~32M at the 8192 default, ~800 MB of
    * executor storage with spill) — raise it only with the memory to match;
    * the SRP-LSH path above the bound materializes only bucket collisions.
    */
  def hdbscanDistributed(
      df: DataFrame, idCol: String, vecCol: String,
      minClusterSize: Int = 5,
      minSamples: Int = -1,
      exactPairBound: Long = 8192,
      nBands: Int = 16, bitsPerBand: Int = 8,
      maxDriverMstEdges: Long = 5000000L): DataFrame = {
    import graft.functions.VectorOps.asDouble
    val mcs = math.max(2, minClusterSize)
    val k = if (minSamples > 0) minSamples else mcs
    val spark = df.sparkSession
    val pts = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .localCheckpoint(true) // scanned by core-kNN, candidates, and output join
    val n = pts.count()
    if (n == 0) return emptyAssignment(spark)
    require(n - 1 <= maxDriverMstEdges,
      s"hdbscanDistributed collects the n-1 MST edges to the driver, guarded at " +
        s"$maxDriverMstEdges edges (got n=$n); raise maxDriverMstEdges or use " +
        "Clustering.dbscanCosine for fully-distributed density clustering")
    if (n < mcs)
      return toAssignment(spark, pts.collect().map(r => (r.getLong(0), -1L)).toSeq)

    // 1. core distances (self included): value at rank min(k, n) of the
    // cosine top-k — the same order statistic the driver kernel takes from
    // its sorted distance row
    val core = SemanticJoin.knnJoinVec(pts, "id", "v", pts, "id", "v", k = math.min(k, n.toInt))
      .filter(col("rank") === math.min(k, n.toInt))
      .select(col("left_id").as("id"), (lit(1.0) - col("score")).as("core"))

    // 2. candidate pairs (a < b, cosine score)
    val exact = n <= exactPairBound
    val cand0 =
      if (exact)
        SemanticJoin.rangeJoinVec(pts, "id", "v", pts, "id", "v",
            tau = -1.0, excludeSelf = true, keepUnmatched = false)
          .filter(col("left_id") < col("right_id"))
          .select(col("left_id").as("a"), col("right_id").as("b"), col("score"))
      else {
        logWarning(s"hdbscanDistributed: n=$n exceeds exactPairBound=$exactPairBound; " +
          s"escalating to SRP-LSH candidate edges ($nBands bands x $bitsPerBand bits) — " +
          "MST (and labels) are approximate where LSH recall misses true neighbors")
        Ann.srpCandidatePairs(pts, "id", "v", tau = -1.0, nBands, bitsPerBand)
          .select(col("i").as("a"), col("j").as("b"), col("score"))
      }

    // mutual reachability: w = max(core_a, core_b, 1 - cos)
    val edges = cand0
      .join(core.select(col("id").as("a"), col("core").as("__ca")), Seq("a"))
      .join(core.select(col("id").as("b"), col("core").as("__cb")), Seq("b"))
      .select(col("a"), col("b"),
        greatest(col("__ca"), col("__cb"), lit(1.0) - col("score")).as("w"))
      .localCheckpoint(true)

    // 3. Borůvka rounds. Each component selects its minimum incident edge
    // under the strict total order (w, a, b) — selections under a total order
    // cannot form a cycle, so each round's picks extend the forest. The
    // component map lives on the DRIVER as a cumulative union-find (≤ n ≤
    // maxDriverMstEdges entries — the driver holds the full n−1-edge MST at
    // the end anyway, and round 1 already collects ≤ n/2 selection edges);
    // each round broadcasts the flattened id→root remap into the edge
    // labeling, so a round is ONE agg+collect job. The earlier shape — a
    // distributed `comp` table re-joined, re-mapped, and re-checkpointed
    // every round — made small-n walls pure job-scheduling overhead
    // (q_hdbscan_parity: 57 jobs, wall ≈ 100 ms × jobs with taskSum under 5 s).
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r0 = x
      while (parent.getOrDefault(r0, r0) != r0) r0 = parent.getOrDefault(r0, r0)
      var c0 = x
      while (parent.getOrDefault(c0, c0) != c0) {
        val nxt = parent.getOrDefault(c0, c0); parent.put(c0, r0); c0 = nxt
      }
      r0
    }
    val mstBuf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    // 3a. Kruskal fast path: when the CANDIDATE edge table itself fits
    // [[Regime.KruskalEdgeBound]] (unset, the same maxDriverMstEdges the MST
    // collect and the CC union-find fast path accept — the exact path has
    // n(n-1)/2 edges, known without a job), collect it ONCE and run Kruskal
    // under the identical strict total order (w, a, b). A strict total order
    // on edges makes the minimum spanning forest UNIQUE, so Kruskal selects
    // exactly the edge set the Borůvka rounds would (spec-pinned:
    // HierarchicalClusteringSpec "kruskal fast path ≡ forced Borůvka
    // rounds") — and ~⌈log n⌉ sequential agg+collect round-trip jobs become
    // one collect (q_hdbscan_parity spent its wall on the round chain, not
    // on compute: 39 jobs, task_min 0.6 s, wall 1.4-1.6 s).
    val exactPairCount = if (exact) n * (n - 1) / 2 else -1L
    val kruskalBound = Regime.KruskalEdgeBound.orElse(spark, maxDriverMstEdges)
    if (exactPairCount >= 0 && exactPairCount <= kruskalBound) {
      val arr = edges.select(col("a"), col("b"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(e => (e._3, e._1, e._2))
      arr.foreach { case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          mstBuf += ((a, b, w))
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    } else {
    var done = false
    var round = 0
    while (!done && round < 64) {
      round += 1
      // flattened remap of every id whose root moved (roots map to themselves
      // and stay out of the broadcast); a left join + coalesce labels the rest
      val remapArr = parent.keySet().asScala.toArray
        .map(c0 => (c0, find(c0))).filter { case (c0, r0) => c0 != r0 }.toSeq
      val labeled = (if (remapArr.isEmpty) {
        edges.select(col("a"), col("b"), col("w"),
          col("a").as("__pa"), col("b").as("__pb"))
      } else {
        edges
          .join(broadcast(spark.createDataset(remapArr).toDF("a", "__ra")), Seq("a"), "left")
          .join(broadcast(spark.createDataset(remapArr).toDF("b", "__rb")), Seq("b"), "left")
          .select(col("a"), col("b"), col("w"),
            coalesce(col("__ra"), col("a")).as("__pa"),
            coalesce(col("__rb"), col("b")).as("__pb"))
      }).filter(col("__pa") =!= col("__pb"))
      val directed = labeled
        .select(col("__pa").as("c"), col("a"), col("b"), col("w"), col("__pa"), col("__pb"))
        .unionByName(labeled
          .select(col("__pb").as("c"), col("a"), col("b"), col("w"), col("__pa"), col("__pb")))
      val sel = directed.groupBy(col("c"))
        .agg(min(struct(col("w"), col("a"), col("b"), col("__pa"), col("__pb"))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"), col("__e.w").as("w"),
          col("__e.__pa").as("pa"), col("__e.__pb").as("pb"))
        .distinct() // both endpoints' components pick the same min edge
        .collect()
      if (sel.isEmpty) done = true
      else {
        sel.foreach(r => mstBuf += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
        // union the touched components; canonical label = min comp in group
        var merged = false
        sel.foreach { r =>
          val (ra, rb) = (find(r.getLong(3)), find(r.getLong(4)))
          if (ra != rb) {
            merged = true
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        if (!merged) done = true
      }
    }
    }

    // shared by bridging and the driver tail
    val ids = pts.select(col("id")).orderBy(col("id")).collect().map(_.getLong(0))

    // 4. bridge a disconnected candidate graph (LSH path only): chain the
    // component representatives with an above-any-real-density weight so the
    // dendrogram stays a single tree and every point keeps a label. Union
    // roots are the min id of their component (unions parent the larger root
    // under the smaller), so reps match a distributed min(id)-per-comp.
    if (mstBuf.length < n - 1) {
      val reps = ids.map(find).distinct.sorted
      val bridgeW = (mstBuf.iterator.map(_._3) ++ Iterator(2.0)).max * 2 + 1.0
      reps.sliding(2).foreach {
        case Array(x, y) => mstBuf += ((x, y, bridgeW))
        case _ =>
      }
    }
    require(mstBuf.length == n - 1,
      s"internal: expected ${n - 1} MST edges, got ${mstBuf.length}")

    // 5. shared O(n) driver tail over the edge list
    val idx = new java.util.HashMap[Long, Int](ids.length * 2)
    ids.zipWithIndex.foreach { case (id, i) => idx.put(id, i) }
    val mstA = new Array[Int](mstBuf.length)
    val mstB = new Array[Int](mstBuf.length)
    val mstW = new Array[Double](mstBuf.length)
    mstBuf.zipWithIndex.foreach { case ((a, b, w), i) =>
      mstA(i) = idx.get(a); mstB(i) = idx.get(b); mstW(i) = w
    }
    labelsFromMst(spark, ids, mstA, mstB, mstW, mcs)
  }

  private def toAssignment(spark: SparkSession, rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF("id", "cluster")
  }

  private def emptyAssignment(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, Long)].toDF("id", "cluster")
  }
}
