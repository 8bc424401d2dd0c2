package graft.operators

import org.apache.spark.sql.SparkSession

/** Every bound at which the engine moves a step between the driver and the
  * cluster, declared once: its session key, its default and one reader.
  * Under a bound the step collects to the driver (a broadcast matrix, a
  * driver union-find, a resident mirror, a literal id set); over it the step
  * stays a distributed plan. Both sides of every bound give the same rows;
  * only the physical shape differs. A path is forced only through
  * [[forcing]], which sets one key for the length of a body.
  */
object Regime {

  /** One session-settable bound: `key` in the session conf, `default` when
    * the key is unset.
    */
  final case class Bound(key: String, default: Long) {
    /** The session's value, or `fallback` when the key is unset. */
    def orElse(spark: SparkSession, fallback: Long): Long =
      spark.conf.getOption(key).map(_.toLong).getOrElse(fallback)

    /** The session's value, or [[default]] when the key is unset. */
    def apply(spark: SparkSession): Long = orElse(spark, default)

    /** The session's value over `per`, as the row count of a bounded
      * collect that runs `limit(n + 1)` and takes the over-bound path when
      * the limit truncates: clamped to `[-1, Int.MaxValue - 1]`, so `n + 1`
      * is always a valid limit and a negative value takes the over-bound
      * path.
      */
    def rows(spark: SparkSession, per: Long = 1L): Int =
      math.max(-1L, math.min(apply(spark) / math.max(per, 1L), Int.MaxValue - 1L)).toInt
  }

  /** Bytes of a side collected and broadcast as a scan matrix or a code
    * table (`VecScan.collectMatIfFits`, MinHash's driver dedup, the
    * quantized scans), and the fold output a partitioned-tier search ships
    * to the driver (an even share per partition). Over it the joins take
    * the shuffled crossJoin plan, clustering the SRP-LSH candidate pairs
    * and a pinned search the family's plan. 256 MiB leaves headroom
    * under Spark's default `spark.driver.maxResultSize=1g`; raise it
    * together with maxResultSize and driver memory.
    */
  val MaxBroadcastBytes = Bound("spark.graft.vecscan.maxBroadcastBytes", 256L << 20)

  /** Edges the driver union-find takes in `Clustering.connectedComponents`
    * (~80 MB of collected longs), also MinHash's driver bucket pairs. Over
    * it components run as distributed label propagation.
    */
  val SmallGraphEdgeLimit = Bound("spark.graft.cc.smallGraphEdgeLimit", 5L * 1000 * 1000)

  /** Index rows (postings, cells, signatures) a pinned index may hold in a
    * driver mirror: ~131k of the widest rows is a few tens of MB. Over it,
    * or at 0, a pinned index serves from the partitioned tier (one job of
    * one stage per search); an unpinned index always takes the plan.
    */
  val DriverResidentRows = Bound("spark.graft.serving.driverResidentRows", 1L << 17)

  /** Pinned bytes a mirror may take, checked against the cached frames'
    * accounted size before any driver copy exists. The row bound is a proxy
    * (a wide-shingle MinHash mirror runs ~39 MB at the rows where an ANN
    * mirror runs ~1 MB); unset, the row bound alone governs.
    */
  val DriverResidentBytes = Bound("spark.graft.serving.driverResidentBytes", Long.MaxValue)

  /** Ids a filtered view's allow-list may hold to be collected once into a
    * driver set that the serving tiers filter by. Over it the view keeps the
    * distributed semi-join plan. The same order as the resident row bound:
    * an allow-list bigger than the rows it filters has stopped being a filter.
    */
  val MaxDriverAllowIds = Bound("spark.graft.serving.maxDriverAllowIds", 1L << 17)

  /** Derived views a live `ServingSession` keeps (LRU); each costs one
    * shared-slot ref on the base generation's mirror plus its allow set.
    * Past it the least recently used view is evicted and re-derived on use.
    */
  val MaxDerivedViews = Bound("spark.graft.serving.maxDerivedViews", 16L)

  /** A bm25 search's exploded (query_id, term) pairs collected into a
    * LocalRelation with a static bucket prune. Over it the pairs stay
    * distributed and the bucket restriction is a broadcast semi-join.
    */
  val MaxQueryTermRows = Bound("spark.graft.bm25.maxQueryTermRows", 1L << 20)

  /** An ANN index search's probe rows (|queries| × nProbe): under it the
    * query vectors (`bound / nProbe` rows, `· (8 + 8·dim)` bytes) are
    * collected and probed on the driver with a static cell prune; over it
    * the probe assignment runs distributed and the cell restriction is a
    * broadcast semi-join.
    */
  val MaxProbeRows = Bound("spark.graft.ann.maxProbeRows", 1L << 20)

  /** Deleted ids, across an index's committed tombstones, collected at open
    * into a literal set probe (`n_ids · 8` bytes, ~512 KB at the default).
    * Over it the exclusion is a distributed anti-join.
    */
  val MaxDriverDeleteIds = Bound("spark.graft.index.maxDriverDeleteIds", 1L << 16)

  /** Estimated bytes of a fitted artifact's text→centroid map, collected on
    * reload. Over it the reload refuses: no distributed form exists.
    */
  val FittedMaxCollectBytes = Bound("spark.graft.fitted.maxCollectBytes", 256L << 20)

  /** Candidate edges `hdbscanDistributed` collects to run Kruskal on the
    * driver. Unset, it is the call's `maxDriverMstEdges` (5,000,000 by
    * default); over it the MST runs as Borůvka rounds.
    */
  val KruskalEdgeBound = Bound("spark.graft.hdbscan.kruskalEdgeBound", 5L * 1000 * 1000)

  /** Runs `body` with `bound` set to `value` in `spark`'s conf, then
    * restores the key's previous value (or unsets it). Nests. An operator
    * chooses its regime when it is called, not when its result runs, so
    * `body` must make the call it forces.
    */
  def forcing[A](spark: SparkSession, bound: Bound, value: Long)(body: => A): A = {
    val prev = spark.conf.getOption(bound.key)
    spark.conf.set(bound.key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(bound.key, v)
      case None => spark.conf.unset(bound.key)
    }
  }
}
